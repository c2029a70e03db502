"""hexgrid: aperture-7 hexagonal index (H3-style) — fixture pins.

Mirrors the S2 treatment in test_cells.py: hand-derived spec pins from
the construction (face centers → all-zero digit tokens, unit lattice
offsets → known digit sequences), global invariants, Catalyst ≡ numpy, and
the canonical-H3 gate (documented Uber tokens behind ``import h3``,
NotImplementedError contract when the wheel is absent).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geodata_spark import hexgrid as H


def _decode(cell: int) -> tuple[int, int, tuple[int, int, int], list[int]]:
    cell = int(cell)
    return (
        (cell >> 57) & 0xF,
        (cell >> 52) & 0x1F,
        ((cell >> 50) & 3, (cell >> 48) & 3, (cell >> 46) & 3),
        [(cell >> (45 - 3 * rr)) & 7 for rr in range(1, 16)],
    )


def test_res0_unit_matches_published_relation():
    """The derived res-0 gnomonic unit equals H3's published
    RES0_U_GNOMONIC ≈ 0.381966011250105 — it is a pure function of
    icosahedron geometry (half the center→vertex gnomonic distance),
    so the from-scratch construction must land on the same number."""
    assert abs(H._RES0_U - 0.381966011250105) < 1e-12


def test_face_centers_encode_to_zero_digits():
    """A point AT a face center is at hex2d (0,0) on its own face at
    every res: base ijk (0,0,0) and all digits 0 — the same kind of
    by-construction pin as the S2 level-0 face tokens."""
    lat = np.degrees(np.arcsin(H._FACE_CENTER[:, 2]))
    lon = np.degrees(np.arctan2(H._FACE_CENTER[:, 1], H._FACE_CENTER[:, 0]))
    for res in (0, 5, 7, 9):
        for f, cell in enumerate(H.hex7_id_np(lat, lon, res)):
            r, face, ijk, digs = _decode(cell)
            assert (r, face, ijk) == (res, f, (0, 0, 0))
            assert digs[:res] == [0] * res
            assert digs[res:] == [7] * (15 - res)


def test_unit_offset_digit_fixtures():
    """A point constructed at exactly one lattice step from the face
    center at res r must encode with digits 0...0,D where D is the
    unit-vector digit — pinned for the I (4), J (2) and K (1) axes at
    a Class III and a Class II res (the two aperture-7 rotations)."""
    for res in (5, 6):  # class III, class II
        scale = (7.0 ** (res / 2.0)) / H._RES0_U
        for axial, want in [((1, 0), 4), ((0, 1), 2), ((-1, -1), 1)]:
            # lattice point → 2D in the res frame
            x2 = axial[0] - axial[1] / 2.0
            y2 = axial[1] * np.sqrt(3.0) / 2.0
            # res frame → physical gnomonic (undo Class III rotation)
            rot = H._AP7_ROT if res % 2 == 1 else 0.0
            gx = (x2 * np.cos(rot) - y2 * np.sin(rot)) / scale
            gy = (x2 * np.sin(rot) + y2 * np.cos(rot)) / scale
            p = H._FACE_CENTER[0] + gx * H._FACE_E1[0] + gy * H._FACE_E2[0]
            p = p / np.linalg.norm(p)
            lat = np.degrees(np.arcsin(p[2]))
            lon = np.degrees(np.arctan2(p[1], p[0]))
            r, face, ijk, digs = _decode(
                H.hex7_id_np(np.array([lat]), np.array([lon]), res)[0]
            )
            assert (r, face, ijk) == (res, 0, (0, 0, 0))
            assert digs[:res] == [0] * (res - 1) + [want], (res, axial, digs)


def test_global_invariants():
    """Random global points: res-0 ijk within the face budget (0-2),
    every in-range digit a valid 0-6, faces 0-19, and the aperture-7
    children-per-parent ratio ≈ 7 on a dense regional sample."""
    rng = np.random.default_rng(3)
    lat = rng.uniform(-89.9, 89.9, 50000)
    lon = rng.uniform(-180.0, 180.0, 50000)
    for res in (5, 9):
        arr = H.hex7_id_np(lat, lon, res)
        assert (((arr >> 50) & 3) <= 2).all()
        assert (((arr >> 48) & 3) <= 2).all()
        assert (((arr >> 46) & 3) <= 2).all()
        faces = (arr >> 52) & 31
        assert faces.min() >= 0 and faces.max() <= 19
        for rr in range(1, res + 1):
            assert (((arr >> (45 - 3 * rr)) & 7) <= 6).all()
    dense_lat = rng.uniform(30, 35, 200000)
    dense_lon = rng.uniform(10, 15, 200000)
    n5 = len(np.unique(H.hex7_id_np(dense_lat, dense_lon, 5)))
    n6 = len(np.unique(H.hex7_id_np(dense_lat, dense_lon, 6)))
    assert 6.0 < n6 / n5 < 8.0


def test_parent_truncation_exact_and_transitive():
    """The hierarchy contract: parent-by-truncation is exact and
    transitive (9→8→7 ≡ 9→7).  Direct multi-res encode is NOT
    hierarchy-consistent (inherent aperture-7 property shared with
    canonical H3 — see module docstring) and is pinned at its
    measured ~2/3 agreement to catch regressions in either
    direction."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(20, 60, 20000)
    lon = rng.uniform(-40, 40, 20000)
    i9 = H.hex7_id_np(lat, lon, 9)
    p8 = H.hex7_parent_np(i9, 9, 8)
    p7a = H.hex7_parent_np(p8, 8, 7)
    p7b = H.hex7_parent_np(i9, 9, 7)
    assert (p7a == p7b).all()
    agree = float(np.mean(p8 == H.hex7_id_np(lat, lon, 8)))
    assert 0.55 < agree < 0.75, agree


def _near_edges_and_vertices(seed: int, n: int = 300) -> tuple[np.ndarray, np.ndarray]:
    """Points jittered 1e-14..1e-2 rad off every icosahedron edge and
    vertex (the face ties and lattice edges an encode can get wrong)."""
    rng = np.random.default_rng(seed)
    base = []
    for a, b in _EDGES:
        t = rng.uniform(0.0, 1.0, (n, 1))
        base.append(H._VERTS[a] * (1 - t) + H._VERTS[b] * t)
    base.append(np.repeat(H._VERTS, n, axis=0))
    base = np.vstack(base)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    step = rng.normal(size=base.shape)
    step /= np.linalg.norm(step, axis=1, keepdims=True)
    p = base + step * 10.0 ** rng.uniform(-14, -2, (len(base), 1))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1.0, 1.0)))
    return lat, np.degrees(np.arctan2(p[:, 1], p[:, 0]))


def test_with_hex7_id_matches_numpy(spark):
    """The Catalyst encode equals hex7_id_np bit for bit at every res
    on the corpus lattice (the hex5_grid_dim fixture's domain), 100k
    uniform points, points near every icosahedron edge and vertex,
    the hex_cells points and the face centres."""
    import pandas as pd

    from geodata_spark.synth import DLAT, DLON, LAT0, LON0, NX, NY

    rng = np.random.default_rng(13)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    edge_lat, edge_lon = _near_edges_and_vertices(17)
    idx = np.arange(24)
    lat = np.concatenate([
        LAT0 + DLAT * yy.ravel(), rng.uniform(-90, 90, 100_000), edge_lat,
        -78.0 + idx * 6.7, np.degrees(np.arcsin(H._FACE_CENTER[:, 2])),
    ])
    lon = np.concatenate([
        LON0 + DLON * xx.ravel(), rng.uniform(-180, 180, 100_000), edge_lon,
        -168.0 + idx * 14.3, np.degrees(np.arctan2(H._FACE_CENTER[:, 1], H._FACE_CENTER[:, 0])),
    ])
    df = spark.createDataFrame(pd.DataFrame({"n": np.arange(len(lat)), "lat": lat, "lon": lon}))
    df = df.cache()
    try:
        for res in range(16):
            got = (
                H.with_hex7_id(df, "lat", "lon", res, "id").select("n", "id")
                .toPandas().sort_values("n")["id"].to_numpy()
            )
            want = H.hex7_id_np(lat, lon, res)
            bad = np.nonzero(got != want)[0]
            assert len(bad) == 0, (res, len(bad), lat[bad[:3]], lon[bad[:3]])
    finally:
        df.unpersist()


def test_with_hex7_id_null_and_columns(spark):
    """NULL, NaN and ±inf coordinates give a NULL id (no ANSI cast
    error); other columns keep their order and an existing ``out_col``
    is replaced in place; with_hex_columns and hex7_token_expr build on
    the same encode."""
    import pyspark.sql.functions as F

    rows = [(1, 10.0, 20.0), (2, float("nan"), 20.0), (3, 10.0, float("inf")),
            (4, None, 20.0), (5, float("-inf"), None)]
    df = spark.createDataFrame(rows, "n int, lat double, lon double")
    out = H.with_hex7_id(df.withColumn("h", F.lit("x")), "lat", "lon", 7, "n")
    assert out.columns == ["n", "lat", "lon", "h"]
    got = [r.n for r in out.collect()]
    assert got[0] == int(H.hex7_id_np(np.array([10.0]), np.array([20.0]), 7)[0])
    assert got[1:] == [None] * 4
    tok = H.with_hex7_id(df, "lat", "lon", 7, "c").select(H.hex7_token_expr(F.col("c")))
    assert [r[0] for r in tok.collect()][0] == H.hex7_token_np(np.array([10.0]), np.array([20.0]), 7)[0]
    wide = H.with_hex_columns(df, resolutions=(5, 9))
    assert wide.columns == ["n", "lat", "lon", "hex7_r5", "hex7_r9"]
    with pytest.raises(ValueError):
        H.with_hex7_id(df, "lat", "lon", 16, "c")


def test_with_hex7_id_compiles_under_the_jit_limit(spark):
    """Every generated method of the encode's codegen stage stays under
    HotSpot's 8,000-byte limit at the finest res (a longer method runs
    in the bytecode interpreter)."""
    conf = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(10).selectExpr("id * 1.5D AS lat", "id * 2.5D AS lon")
        plan = H.with_hex7_id(df, "lat", "lon", 15, "h")._jdf.queryExecution().executedPlan()
        jvm = spark.sparkContext._jvm
        stages = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
        sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", conf)
    assert sizes and max(sizes) < 8000, sizes


def test_canonical_h3_gate():
    """Without the h3 wheel the canonical UDF must raise the
    documented NotImplementedError at DEFINITION time (not inside an
    executor); with the wheel, the documented Uber example tokens
    must come back (publicly pinned in the H3 docs/README)."""
    try:
        import h3  # noqa: F401
        have = True
    except ImportError:
        have = False
    if not have:
        with pytest.raises(NotImplementedError, match="h3. wheel"):
            H.h3_token_udf(9)
        return
    fn = getattr(h3, "latlng_to_cell", None) or getattr(h3, "geo_to_h3")
    assert fn(37.3615593, -122.0553238, 5) == "85283473fffffff"


# ---------------------------------------------------------------------------
# round 6: decode / neighbor algebra / face-local keys / polyfill
# ---------------------------------------------------------------------------

def test_decode_center_roundtrip():
    """encode → decode → center → re-encode is the identity for
    face-interior cells (the documented exception: edge-split cells,
    whose centers canonically re-home — bounded below)."""
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 4000)
    lon = rng.uniform(-180, 180, 4000)
    for res in (3, 5, 7):
        ids = H.hex7_id_np(lat, lon, res)
        cla, clo = H.hex7_center_np(ids)
        agree = np.mean(H.hex7_id_np(cla, clo, res) == ids)
        # the non-identity residue is the edge-split band, whose width
        # scales with cell size: coarser res → larger fraction
        floor = {3: 0.98, 5: 0.995, 7: 0.999}[res]
        assert agree >= floor, f"res {res}: round-trip agreement {agree}"


def test_decode_inverts_pack():
    """decode(pack(ijk)) reproduces the absolute IJK (modulo the
    (1,1,1) null direction — compared in axial coords)."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(-60, 60, 2000)
    lon = rng.uniform(-180, 180, 2000)
    for res in (4, 5):
        face, x, y = H._geo_to_face_xy(lat, lon)
        i, j, k = H._face_xy_to_ijk(x, y, res)
        ids = H._pack_ijk(face, i, j, k, res)
        dres, dface, di, dj, dk = H.hex7_decode_np(ids)
        assert np.all(dres == res) and np.all(dface == face)
        assert np.all((di - dk) == (i - k)) and np.all((dj - dk) == (j - k))


def test_neighbors_symmetric_and_distinct():
    c = H.hex7_id_np(np.array([30.0]), np.array([100.0]), 5)
    nb = H.hex7_neighbors_np(c)
    assert len(np.unique(nb)) == 6 and not np.any(nb == c[0])
    for d in range(6):
        back = H.hex7_neighbors_np(nb[0, d:d + 1]).ravel()
        assert c[0] in set(back.tolist())


def test_local_disk_sizes_and_membership():
    """Interior k-disks have exactly 1+3k(k+1) distinct cells and
    contain the center cell; all cells share the origin's face."""
    rng = np.random.default_rng(3)
    lat = rng.uniform(20, 50, 200)
    lon = rng.uniform(75, 135, 200)
    base = H.hex7_id_np(lat, lon, 5)
    for k in (1, 2, 3):
        disks = H.hex7_local_disk_np(base, k, res=5)
        assert disks.shape == (200, 1 + 3 * k * (k + 1))
        assert np.all(disks[:, 0] == base)
        faces = (disks >> np.int64(52)) & np.int64(0x1F)
        assert np.all(faces == faces[:, :1])
        for row in disks[:20]:
            assert len(np.unique(row)) == len(row)


def test_local_id_matches_canonical_on_argmax_face():
    rng = np.random.default_rng(5)
    lat = rng.uniform(-80, 80, 3000)
    lon = rng.uniform(-180, 180, 3000)
    ids = H.hex7_id_np(lat, lon, 4)
    face = (ids >> np.int64(52)) & np.int64(0x1F)
    for f in np.unique(face):
        sel = face == f
        assert np.all(H.hex7_local_id_np(lat[sel], lon[sel], 4, int(f)) == ids[sel])


def test_faces_mask_includes_argmax_and_margin_monotone():
    rng = np.random.default_rng(9)
    lat = rng.uniform(-80, 80, 2000)
    lon = rng.uniform(-180, 180, 2000)
    ids = H.hex7_id_np(lat, lon, 3)
    argmax_face = ((ids >> np.int64(52)) & np.int64(0x1F)).astype(int)
    m0 = H.hex7_faces_np(lat, lon, 0.0)
    m1 = H.hex7_faces_np(lat, lon, 0.05)
    assert np.all(m0[np.arange(len(lat)), argmax_face])
    assert np.all(m1 >= m0)  # growing the margin never drops a face
    # away from edges most points see exactly one face
    assert np.mean(m1.sum(axis=1) == 1) > 0.5


def test_hex_knn_candidate_completeness():
    """The face-local disk join (res 3, ring 2, margin 0.035) contains
    the true 4 nearest lattice sources for every lattice-point target —
    the containment proof behind the `hex_knn` driver row."""
    from geodata_spark.synth import DLAT, DLON, LAT0, LON0, NX, NY

    la = LAT0 + DLAT * np.arange(NY)
    lo = LON0 + DLON * np.arange(NX)
    gla, glo = np.meshgrid(la, lo, indexing="ij")
    gla, glo = gla.ravel(), glo.ravel()
    rng = np.random.default_rng(99)
    tla = np.concatenate([rng.uniform(la[0], la[-1], 500), gla[::13]])
    tlo = np.concatenate([rng.uniform(lo[0], lo[-1], 500), glo[::13]])

    mask = H.hex7_faces_np(gla, glo, 0.035)
    src_keys = [set() for _ in range(len(gla))]
    for f in range(20):
        sel = mask[:, f]
        if not sel.any():
            continue
        ids = H.hex7_local_id_np(gla[sel], glo[sel], 3, f)
        for row, c in zip(np.nonzero(sel)[0], ids):
            src_keys[row].add(int(c))
    disks = H.hex7_local_disk_np(H.hex7_id_np(tla, tlo, 3), 2, res=3)
    for t in range(len(tla)):
        d2 = (gla - tla[t]) ** 2 + (glo - tlo[t]) ** 2
        near = np.argpartition(d2, 4)[:4]
        dset = set(disks[t].tolist())
        assert all(src_keys[n] & dset for n in near)


def test_polyfill_membership_exact():
    """Cover-based membership (full → in, boundary → exact PIP, absent
    → out) equals direct PIP for every sampled point — the exactness
    contract behind hex-grain join_zones."""
    from geodata_spark import geometry
    from geodata_spark.spatial import ZONES

    rng = np.random.default_rng(5)
    for zid, rings in ZONES.items():
        full, bound = H.hex7_polyfill(rings, 5)
        fset, bset = set(full.tolist()), set(bound.tolist())
        assert not (fset & bset)
        allv = np.vstack(rings)
        pla = rng.uniform(allv[:, 1].min() - 1, allv[:, 1].max() + 1, 4000)
        plo = rng.uniform(allv[:, 0].min() - 1, allv[:, 0].max() + 1, 4000)
        truth = geometry.points_in_rings(plo, pla, rings)
        cells_ = H.hex7_id_np(pla, plo, 5)
        for n in range(len(pla)):
            c = int(cells_[n])
            via = (c in fset) or ((c in bset) and bool(truth[n]))
            assert via == bool(truth[n]), (zid, pla[n], plo[n])


HEX5_GRID_DIM_MD5 = "2cf22970308ccbae14098389f15ff607"


def test_hex5_grid_dim_fixture_pinned():
    """The hex_rollup oracle's dimension fixture re-derives from
    hex7_token_np exactly, and its content hash is pinned here — the
    same trust model as the `hex_cells` 48-token fixture literal (a
    stale or tampered parquet fails this test)."""
    import sys
    from pathlib import Path

    import pandas as pd

    repo = Path(__file__).resolve().parents[1]
    fx = repo / "geodata_spark" / "resources" / "hex5_grid_dim.parquet"
    df = pd.read_parquet(fx)
    sys.path.insert(0, str(repo / "tools"))
    import gen_hex_fixture as G

    fresh = G.build_frame()
    merged = df.sort_values(["lat_idx", "lon_idx"]).reset_index(drop=True)
    fresh = fresh.sort_values(["lat_idx", "lon_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, fresh)
    assert G.content_hash(df) == HEX5_GRID_DIM_MD5


def test_parent_expr_matches_numpy(spark):
    """The Catalyst parent-truncate / token-render expressions are
    bit-identical to their numpy twins (hex7_parent_np /
    hex7_token_np's render) — the contract that lets rollup cascades
    derive coarse levels JVM-side from one fine Arrow encode."""
    import pyspark.sql.functions as F

    rng = np.random.default_rng(13)
    lat = rng.uniform(-60, 60, 256)
    lon = rng.uniform(-150, 150, 256)
    id5 = H.hex7_id_np(lat, lon, 5)
    df = spark.createDataFrame([(int(c),) for c in id5], ["id5"])
    got = df.select(
        H.hex7_token_expr(F.col("id5")).alias("t5"),
        H.hex7_parent_expr(F.col("id5"), 4).alias("p4"),
        H.hex7_token_expr(H.hex7_parent_expr(F.col("id5"), 3)).alias("t3"),
    ).collect()
    want_p4 = H.hex7_parent_np(id5, 5, 4)
    want_t5 = H.hex7_token_np(lat, lon, 5)
    want_t3 = [
        format(int(c) & 0xFFFFFFFFFFFFFFFF, "016x")
        for c in H.hex7_parent_np(id5, 5, 3)
    ]
    assert [r.t5 for r in got] == list(want_t5)
    assert [r.p4 for r in got] == list(want_p4)
    assert [r.t3 for r in got] == want_t3


def test_polyfill_membership_exact_large_zone():
    """Regression for the face-enumeration margin: a LARGE (24-degree)
    polygon whose bbox samples sit far apart must still produce an
    exact cover — a fixed cell-size margin under-covers face-edge
    straddling zones (the margin now scales with the sample spacing)."""
    from geodata_spark import geometry

    big = [np.array([
        [60.0, 10.0], [84.0, 12.0], [82.0, 34.0], [58.0, 30.0],
    ])]
    full, bound = H.hex7_polyfill(big, 5)
    fset, bset = set(full.tolist()), set(bound.tolist())
    rng = np.random.default_rng(11)
    pla = rng.uniform(8.0, 36.0, 6000)
    plo = rng.uniform(56.0, 86.0, 6000)
    truth = geometry.points_in_rings(plo, pla, big)
    cells_ = H.hex7_id_np(pla, plo, 5)
    for n in range(len(pla)):
        c = int(cells_[n])
        via = (c in fset) or ((c in bset) and bool(truth[n]))
        assert via == bool(truth[n]), (pla[n], plo[n])


# Candidate-volume pins.  The hex join's scale risk is silent candidate
# inflation: a res/margin tweak that doubles the polyfill cover or widens
# the kNN disk would still be CORRECT (the membership contract is exact,
# the disk is a superset) but would double shuffle volume at 100 TB.
# Exact counts are pinned so any such change fails loudly and must
# re-justify its cost here.  The counts are of distinct ids a point can
# have: the cover emits no cell whose res-0 IJK component is 3 (such a
# face-local cell lies past its face's extent, and several of them
# clip to one id).  Dropping those took north_rect from (93327, 8845),
# south_rect from (159182, 11497), east_tri from (46735, 5812) and
# coast_l from (33580, 5121); islands lies inside one face.
POLYFILL_COVER_R5 = {
    # zone: (full cells, boundary cells) at res 5
    "north_rect": (58953, 5689),
    "south_rect": (63039, 5420),
    "east_tri": (42210, 4748),
    "coast_l": (31281, 4456),
    "islands": (1207, 1243),
}

# sha256 over ZONES in catalog order of (sorted full, sorted boundary)
# as little-endian int64: the previous per-face planner's output minus
# its component-3 ids, so the one-pass planner classifies every
# reachable cell exactly as the planner before it did
POLYFILL_SHA256 = {
    4: "9b6e60f25a4d8e1d5e98c9f8c2b6cd54dae4416aed0fa4a905678b3d0e703c5c",
    5: "8dc9a30879e9e163f8934a5ba17501e134bb983378447a64f45143b8d793dcad",
}


def test_polyfill_cover_volume_pinned():
    from geodata_spark.spatial import ZONES

    got = {}
    for zid, rings in ZONES.items():
        full, bound = H.hex7_polyfill(rings, 5)
        got[zid] = (len(full), len(bound))
    assert got == POLYFILL_COVER_R5, got


@pytest.mark.parametrize("res", sorted(POLYFILL_SHA256))
def test_polyfill_cells_pinned(res):
    from geodata_spark.spatial import ZONES

    h = hashlib.sha256()
    for rings in ZONES.values():
        for part in H.hex7_polyfill(rings, res):
            assert len(np.unique(part)) == len(part)
            assert H._reachable(part).all()
            h.update(np.sort(part).astype("<i8").tobytes())
    assert h.hexdigest() == POLYFILL_SHA256[res]


# the 30 icosahedron edges: vertex pairs at the nearest-neighbour dot
_DOTS = H._VERTS @ H._VERTS.T
_EDGES = [
    (a, b) for a in range(12) for b in range(a + 1, 12)
    if _DOTS[a, b] > _DOTS[0, 1:].max() - 1e-9
]


@settings(max_examples=40, deadline=None)
@given(
    edge=st.integers(0, len(_EDGES) - 1),
    vertex=st.integers(0, 11),
    res=st.integers(0, 9),
    seed=st.integers(0, 2**32 - 1),
)
def test_point_ids_stay_in_the_two_bit_field(edge, vertex, res, seed):
    """No point's canonical id has a res-0 IJK component of 3, even
    within 1e-12..1e-2 rad of an icosahedron edge or vertex: that is
    why the polyfill may drop such ids as unreachable."""
    assert len(_EDGES) == 30
    rng = np.random.default_rng(seed)
    a, b = H._VERTS[list(_EDGES[edge])]
    t = rng.uniform(0.0, 1.0, (1000, 1))
    base = np.vstack([a * (1 - t) + b * t, np.repeat(H._VERTS[[vertex]], 1000, axis=0)])
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    step = rng.normal(size=base.shape)
    step /= np.linalg.norm(step, axis=1, keepdims=True)
    p = base + step * 10.0 ** rng.uniform(-12, -2, (len(base), 1))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1.0, 1.0)))
    lon = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
    assert H._reachable(H.hex7_id_np(lat, lon, res)).all()


def test_hex_knn_disk_candidate_volume_pinned():
    """hex_knn joins each target against its 2-ring disk at res 3:
    exactly 1 + 3k(k+1) = 19 distinct candidate cells per interior
    target — the per-row join fan-out that bounds shuffle volume."""
    ids = H.hex7_id_np(
        np.array([20.0, 30.0, 45.0]), np.array([10.0, 60.0, 100.0]), 3
    )
    d = H.hex7_local_disk_np(ids, 2, res=3)
    assert d.shape == (3, 19)
    for row in d:
        assert len(np.unique(row)) == 19


def test_compact_uncompact_roundtrip_and_compression():
    """compact/uncompact are exact inverses on polyfill covers; a big
    rectangle's full-cell cover compresses (interior parents merge);
    children/parent are one-level inverses with 7 distinct children."""
    big = [np.array([(80.0, 22.0), (130.0, 22.0), (130.0, 50.0), (80.0, 50.0)])]
    full, _ = H.hex7_polyfill(big, 5)
    full = np.unique(full)
    comp = H.hex7_compact_np(full)
    assert len(comp) < len(full)  # interior res-4 parents merged
    assert set(H.hex7_res_np(comp).tolist()) >= {4, 5}
    back = H.hex7_uncompact_np(comp, 5)
    assert np.array_equal(back, np.sort(full))
    # no sibling-complete parent survives in the compacted set
    for r in sorted(set(H.hex7_res_np(comp).tolist()), reverse=True):
        at = comp[H.hex7_res_np(comp) == r]
        if r == 0:
            continue
        par = H.hex7_parent_np(at, r, r - 1)
        _, cnt = np.unique(par, return_counts=True)
        assert cnt.max() < 7
    # children/parent inverse, 7 distinct children (single-res subset:
    # hex7_parent_np takes a scalar res)
    at5 = comp[H.hex7_res_np(comp) == 5][:50]
    ch = H.hex7_children_np(at5)
    assert ch.shape == (len(at5), 7)
    assert all(len(set(row.tolist())) == 7 for row in ch)
    for d in range(7):
        assert np.array_equal(H.hex7_parent_np(ch[:, d], 6, 5), at5)
    # idempotence + empty/degenerate sets
    assert np.array_equal(H.hex7_compact_np(comp), comp)
    one = full[:1]
    assert np.array_equal(H.hex7_compact_np(one), np.sort(one))
    assert np.array_equal(H.hex7_uncompact_np(one, 5), np.sort(one))


def test_join_zones_hex_dim_encode_equivalence(spark):
    """hex_encode="dim" (distinct-coordinate dimension + broadcast
    join-back) returns exactly the row-encode result — same rows,
    same multiplicity — on a lattice-bound point set."""
    from pyspark.sql import functions as F

    from geodata_spark.spatial import join_zones
    from geodata_spark.synth import synth_grid_vars

    pts = synth_grid_vars(spark, nhours=2, ny=20, nx=30,
                          variables=("temperature",)) \
        .select("lat", "lon", "temperature")
    a = join_zones(pts, spark, res=5, grain="hex", hex_encode="row")
    b = join_zones(pts, spark, res=5, grain="hex", hex_encode="dim")
    ka = sorted((r.zone_id, r.lat, r.lon, r.temperature) for r in a.collect())
    kb = sorted((r.zone_id, r.lat, r.lon, r.temperature) for r in b.collect())
    assert ka == kb and len(ka) > 0
