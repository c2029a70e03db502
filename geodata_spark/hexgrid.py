"""Aperture-7 hexagonal cell index (H3-style), numpy and Catalyst.

The north_star asks for H3 (res 5-9) cell encoding next to S2.  The
engine ships the full published H3 *pipeline* from scratch in numpy —
lat/lon → icosahedron face via max-dot-product → gnomonic projection
→ hex IJK rounding → aperture-7 digit extraction with Class II/III
alternation (the algorithm documented at h3geo.org/docs/core-library;
reference analog: the grid discretization in cutout.py:340-344) — as
:func:`hex7_id_np` / :func:`hex7_token_np`, with a Catalyst twin
(:func:`with_hex7_id`) for Spark plans, plus canonical-H3 twins
(:func:`h3_token_udf`) gated on the ``h3`` wheel.

Why two paths instead of one canonical encoder:

* Canonical H3 tokens require Uber's base-cell numbering — the
  ``baseCellData`` (122 rows) and ``faceIjkBaseCells`` (20x3x3x3)
  convention tables plus the Dymaxion icosahedron orientation.  Those
  are published *data*, not derivable math; this image has neither
  the ``h3`` wheel nor network access, so vendoring them blind would
  be unverifiable (and near-copying a table we cannot even test
  against).  The gate mirrors the rasterio/xarray treatment
  (sources.py): canonical tokens light up when the wheel is present,
  and tests pin the documented token fixtures behind the gate.
* The from-scratch ``hex7`` scheme is the same math on a canonical
  golden-ratio icosahedron with a derived face numbering.  It is a
  genuine hexagonal index — uniform 6-neighbor distance, ~7x children
  per parent, Class III lattice rotation asin(sqrt(3/28)) — which the
  engine's own aperture-4 square ``grid`` scheme is not.  Everything
  is pinned by construction-derived fixtures (face centers → all-zero
  digits, unit lattice offsets → known digit sequences) exactly like
  the hand-derived S2 spec pins in cells.py.

Caveats (documented, not hidden): cells straddling an icosahedron
edge are split between the two faces (no base-cell overage
machinery), and vertex cells are split five ways instead of forming
pentagons.  For bucketing/dedup/rollup workloads — the engine's use
of cell ids — a deterministic split cell is harmless; for contiguity-
critical uses, install the ``h3`` wheel and use the canonical UDFs.

Hierarchy contract (same as canonical H3): encode at the FINEST res
you need, then coarsen with :func:`hex7_parent_np` — that truncation
is exact and transitive by construction.  Encoding the same point
directly at two resolutions does NOT guarantee the coarse cell is the
truncated fine cell: the aperture-7 subdivision "flower" (center
child + 6 petals, assigned by the published lround arithmetic of
``_upAp7``) is not the Voronoi of parent centers, so direct-encode
vs truncate agree on only ~2/3 of the plane — measured 0.64 here,
and inherent to canonical H3's identical arithmetic, which is why
H3's own docs recommend fine-encode-then-``cellToParent`` for
consistent multi-resolution bucketing.

Token layout (64-bit, rendered as 16 hex chars):
  bits 63-61  zero
  bits 60-57  res (0-15)
  bits 56-52  face (0-19)
  bits 51-46  res-0 IJK, 2 bits each (normalized, components 0-2)
  bit  45     zero (pad)
  bits 44-0   digits for res 1..15, 3 bits each MSB-first (digit for
              res r at bits 45-3r .. 47-3r); digits past ``res`` hold
              7 — the same convention that gives canonical H3 tokens
              their trailing f's.

Scale shape: encoding is a stateless map over (lat, lon) — a few
Catalyst projections (:func:`with_hex7_id`), no Python stage, no
shuffle, no state; at 100 TB it pipelines inside the scan stage's
whole-stage codegen like the S2/grid encoders.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Canonical icosahedron (golden-ratio construction, public geometry)
# ---------------------------------------------------------------------------

_PHI = (1.0 + np.sqrt(5.0)) / 2.0


def _build_icosahedron() -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vertices, face centers and per-face tangent frames.

    Deterministic: vertices from the (0, ±1, ±phi) cyclic family,
    faces discovered by edge length, both sorted lexicographically so
    the face numbering is reproducible from the construction alone.
    """
    raw = []
    for a in (-1.0, 1.0):
        for b in (-_PHI, _PHI):
            raw += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    verts = np.array(sorted(raw))
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)

    # faces: vertex triples at minimal pairwise distance (edge length)
    d = np.linalg.norm(verts[:, None, :] - verts[None, :, :], axis=2)
    edge = np.min(d[d > 1e-9])
    adj = np.abs(d - edge) < 1e-9
    faces = []
    for a in range(12):
        for b in range(a + 1, 12):
            if not adj[a, b]:
                continue
            for c in range(b + 1, 12):
                if adj[a, c] and adj[b, c]:
                    faces.append((a, b, c))
    assert len(faces) == 20
    centers = verts[np.array(faces)].mean(axis=1)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    order = np.lexsort((centers[:, 2], centers[:, 1], centers[:, 0]))
    faces_arr = np.array(faces)[order]
    centers = centers[order]

    # tangent frame per face: i-axis toward the face's first vertex
    v0 = verts[faces_arr[:, 0]]
    e1 = v0 - centers * np.sum(v0 * centers, axis=1, keepdims=True)
    e1 /= np.linalg.norm(e1, axis=1, keepdims=True)
    e2 = np.cross(centers, e1)
    return verts, centers, e1, e2


_VERTS, _FACE_CENTER, _FACE_E1, _FACE_E2 = _build_icosahedron()

_SQRT7 = np.sqrt(7.0)
_AP7_ROT = np.arcsin(np.sqrt(3.0 / 28.0))  # Class III lattice rotation
_SIN60 = np.sqrt(3.0) / 2.0


def _res0_unit() -> float:
    """Gnomonic length of one res-0 lattice step: half the face-center→
    face-vertex gnomonic distance (the same relation that yields H3's
    published RES0_U_GNOMONIC ≈ 0.381966 on its icosahedron — here it
    is derived from the constructed geometry, not pasted)."""
    d = _VERTS @ _FACE_CENTER[0]
    cosang = np.max(d[d < 1.0 - 1e-12])  # nearest vertices of face 0
    return float(np.tan(np.arccos(np.clip(cosang, -1.0, 1.0)))) / 2.0


_RES0_U = _res0_unit()


# ---------------------------------------------------------------------------
# lat/lon → face + gnomonic hex2d → IJK
# ---------------------------------------------------------------------------

def _to_xyz(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    phi = np.radians(lat)
    lam = np.radians(lon)
    c = np.cos(phi)
    return np.stack([c * np.cos(lam), c * np.sin(lam), np.sin(phi)], axis=1)


def _geo_to_face_xy(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Nearest face + gnomonic tangent-plane coordinates (radians scale)."""
    p = _to_xyz(np.asarray(lat, np.float64), np.asarray(lon, np.float64))
    dots = p @ _FACE_CENTER.T                       # (N, 20)
    face = np.argmax(dots, axis=1)
    c = _FACE_CENTER[face]
    denom = np.sum(p * c, axis=1)
    # gnomonic projection onto the tangent plane at the face center
    t = p / denom[:, None]
    x = np.sum((t - c) * _FACE_E1[face], axis=1)
    y = np.sum((t - c) * _FACE_E2[face], axis=1)
    return face.astype(np.int64), x, y


def _lround(x: np.ndarray) -> np.ndarray:
    """C lround: round half away from zero (np.round is half-to-even)."""
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def _hex2d_to_ijk(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Nearest hex-lattice center in normalized IJK coords.

    Lattice convention (matches the published H3 _ijkToHex2d): axial
    (i, j) center sits at 2D (i - j/2, j*sin60).  Rounding is the
    classic cube-coordinate round (equivalent to H3's case analysis).
    """
    aj = y / _SIN60
    ai = x + aj / 2.0
    # cube coords (q, r, s), q + r + s = 0
    q, r = ai, aj
    s = -q - r
    rq, rr, rs = np.round(q), np.round(r), np.round(s)
    dq, dr, ds = np.abs(rq - q), np.abs(rr - r), np.abs(rs - s)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    rq = np.where(fix_q, -rr - rs, rq)
    rr = np.where(fix_r, -rq - rs, rr)
    i = rq.astype(np.int64)
    j = rr.astype(np.int64)
    k = np.zeros_like(i)
    return _ijk_normalize(i, j, k)


def _ijk_normalize(i: np.ndarray, j: np.ndarray, k: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Translate along (1,1,1) — the hex-coord null direction — so all
    components are non-negative and at least one is zero."""
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


# aperture-7 transforms (published H3 integer/rounded forms)

def _up_ap7(i, j, k):
    """Coarsen one res, Class III (counter-clockwise sublattice)."""
    ii = i - k
    jj = j - k
    ni = _lround((3 * ii - jj) / 7.0)
    nj = _lround((ii + 2 * jj) / 7.0)
    return _ijk_normalize(ni, nj, np.zeros_like(ni))


def _up_ap7r(i, j, k):
    """Coarsen one res, Class II (clockwise sublattice)."""
    ii = i - k
    jj = j - k
    ni = _lround((2 * ii + jj) / 7.0)
    nj = _lround((3 * jj - ii) / 7.0)
    return _ijk_normalize(ni, nj, np.zeros_like(ni))


def _down_ap7(i, j, k):
    """Exact inverse scale-down of _up_ap7 (integer matrix)."""
    ni = 3 * i + 1 * j + 0 * k
    nj = 0 * i + 3 * j + 1 * k
    nk = 1 * i + 0 * j + 3 * k
    return _ijk_normalize(ni, nj, nk)


def _down_ap7r(i, j, k):
    """Exact inverse scale-down of _up_ap7r (integer matrix)."""
    ni = 3 * i + 0 * j + 1 * k
    nj = 1 * i + 3 * j + 0 * k
    nk = 0 * i + 1 * j + 3 * k
    return _ijk_normalize(ni, nj, nk)


# digit encoding: unit IJK → 0..6 (H3's CENTER/K/J/JK/I/IK/IJ order)
_DIGIT = np.zeros((3, 3, 3), dtype=np.int64)
for _u, _dig in [((0, 0, 0), 0), ((0, 0, 1), 1), ((0, 1, 0), 2),
                 ((0, 1, 1), 3), ((1, 0, 0), 4), ((1, 0, 1), 5),
                 ((1, 1, 0), 6)]:
    _DIGIT[_u] = _dig


def _is_class_iii(res: int) -> bool:
    return res % 2 == 1


def _pack_ijk(face: np.ndarray, i: np.ndarray, j: np.ndarray, k: np.ndarray,
              res: int) -> np.ndarray:
    """Absolute res-``res`` IJK on ``face`` → packed 64-bit id.

    The integer digit walk from the original encoder, factored out so
    face-local algebra (:func:`hex7_local_disk_np`) can re-pack shifted
    IJK without any float round trip.  Bit-identical to the historical
    inline form (the `hex_cells` fixture-literal oracle pins this).
    """
    digits = np.full((len(i), 15), 7, dtype=np.int64)
    for rr in range(res, 0, -1):
        li, lj, lk = i, j, k
        if _is_class_iii(rr):
            i, j, k = _up_ap7(i, j, k)
            ci, cj, ck = _down_ap7(i, j, k)
        else:
            i, j, k = _up_ap7r(i, j, k)
            ci, cj, ck = _down_ap7r(i, j, k)
        di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
        # diff must be a unit ijk vector; clip guards float pathologies
        di, dj, dk = np.clip(di, 0, 2), np.clip(dj, 0, 2), np.clip(dk, 0, 2)
        digits[:, rr - 1] = _DIGIT[di, dj, dk]

    # A point's canonical id has res-0 components 0-2 (its argmax face's
    # extent).  A face-local lattice cell past that extent (forced-face
    # encodes, local disks, polyfill rectangles) can reach 3 or more and
    # is clipped to the 2-bit field, so several such cells share one id
    # whose decoded centre is not theirs.  hex7_polyfill drops them.
    i0, j0, k0 = np.clip(i, 0, 3), np.clip(j, 0, 3), np.clip(k, 0, 3)
    out = (
        (np.int64(res) << np.int64(57))
        | (face << np.int64(52))
        | (i0 << np.int64(50)) | (j0 << np.int64(48)) | (k0 << np.int64(46))
    )
    for rr in range(1, 16):
        out = out | (digits[:, rr - 1] << np.int64(45 - 3 * rr))
    return out


def _face_xy_to_ijk(x: np.ndarray, y: np.ndarray, res: int
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gnomonic face-plane coords → absolute IJK at ``res`` (scale +
    Class III rotation + lattice round)."""
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    # Class III final lattice is rotated by asin(sqrt(3/28))
    if _is_class_iii(res):
        theta = theta - _AP7_ROT
    scale = (_SQRT7 ** res) / _RES0_U
    gx = r * scale * np.cos(theta)
    gy = r * scale * np.sin(theta)
    return _hex2d_to_ijk(gx, gy)


def hex7_id_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Vectorized (lat, lon) degrees → 64-bit hex7 cell id at ``res``."""
    if not 0 <= res <= 15:
        raise ValueError(f"res must be 0..15, got {res}")
    face, x, y = _geo_to_face_xy(lat, lon)
    i, j, k = _face_xy_to_ijk(x, y, res)
    return _pack_ijk(face, i, j, k, res)


def _geo_to_forced_face_xy(lat: np.ndarray, lon: np.ndarray, face: int
                           ) -> tuple[np.ndarray, np.ndarray]:
    """Gnomonic projection onto ONE face's tangent plane (no argmax).

    A single face's gnomonic lattice extends smoothly past the face's
    icosahedron edges, so coordinates stay well-defined (and the hex
    grid unbroken) in a band around the face — the property the
    face-local join keys rely on."""
    p = _to_xyz(np.asarray(lat, np.float64), np.asarray(lon, np.float64))
    c = _FACE_CENTER[face]
    denom = p @ c
    t = p / denom[:, None]
    x = (t - c) @ _FACE_E1[face]
    y = (t - c) @ _FACE_E2[face]
    return x, y


def hex7_local_id_np(lat: np.ndarray, lon: np.ndarray, res: int, face: int) -> np.ndarray:
    """Encode under a FORCED face: the cell of ``face``'s unbroken
    gnomonic hex lattice containing the point.  Equals
    :func:`hex7_id_np` whenever ``face`` is the point's argmax face."""
    x, y = _geo_to_forced_face_xy(lat, lon, face)
    i, j, k = _face_xy_to_ijk(x, y, res)
    return _pack_ijk(np.full(len(i), np.int64(face)), i, j, k, res)


def hex7_faces_np(lat: np.ndarray, lon: np.ndarray, margin_rad: float) -> np.ndarray:
    """(N, 20) bool mask: faces within ``margin_rad`` angular distance
    of each point's best face (always includes the argmax face).

    The face set any point within arc distance d of this point might
    canonically use is covered by ``margin_rad >= 2 d`` (triangle
    inequality on angles to face centers) — the guarantee the
    face-local kNN join's source side is built on."""
    p = _to_xyz(np.asarray(lat, np.float64), np.asarray(lon, np.float64))
    ang = np.arccos(np.clip(p @ _FACE_CENTER.T, -1.0, 1.0))   # (N, 20)
    return ang <= (ang.min(axis=1, keepdims=True) + margin_rad)


def hex7_token_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """hex7 ids rendered as 16-char hex tokens."""
    ids = hex7_id_np(lat, lon, res)
    out = np.empty(len(ids), dtype=object)
    for n, c in enumerate(ids):
        out[n] = format(int(c) & 0xFFFFFFFFFFFFFFFF, "016x")
    return out


# digit → unit IJK (inverse of _DIGIT; row d is the offset for digit d)
_UNIT_IJK = np.array(
    [[0, 0, 0], [0, 0, 1], [0, 1, 0], [0, 1, 1],
     [1, 0, 0], [1, 0, 1], [1, 1, 0]], dtype=np.int64,
)


def hex7_decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of the digit walk: id → (res, face, absolute IJK at res).

    Reconstruction replays the encode in reverse — res-0 IJK, then per
    res a class-matched down-aperture (``_down_ap7``/``_down_ap7r``)
    plus the stored digit's unit vector.  Exact because the digit was
    defined as ``child - down(up(child))`` modulo the (1,1,1) null
    direction, and every step here is integer arithmetic.
    """
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(57)) & np.int64(0xF)
    face = (cell >> np.int64(52)) & np.int64(0x1F)
    i = (cell >> np.int64(50)) & np.int64(0x3)
    j = (cell >> np.int64(48)) & np.int64(0x3)
    k = (cell >> np.int64(46)) & np.int64(0x3)
    for rr in range(1, 16):
        act = rr <= res
        if not np.any(act):
            break
        if _is_class_iii(rr):
            di, dj, dk = _down_ap7(i, j, k)
        else:
            di, dj, dk = _down_ap7r(i, j, k)
        dig = (cell >> np.int64(45 - 3 * rr)) & np.int64(7)
        u = _UNIT_IJK[np.where(act, dig, 0)]
        ni, nj, nk = _ijk_normalize(di + u[:, 0], dj + u[:, 1], dk + u[:, 2])
        i = np.where(act, ni, i)
        j = np.where(act, nj, j)
        k = np.where(act, nk, k)
    return res, face, i, j, k


def _ijk_to_hex2d(i: np.ndarray, j: np.ndarray, k: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`_hex2d_to_ijk`'s lattice convention: axial
    (i-k, j-k) center sits at 2D (ai - aj/2, aj*sin60)."""
    ai = (i - k).astype(np.float64)
    aj = (j - k).astype(np.float64)
    return ai - aj / 2.0, aj * _SIN60


def _face_ijk_to_geo(
    res: np.ndarray, face: np.ndarray, i: np.ndarray, j: np.ndarray, k: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(res, face, IJK) → cell-center lat/lon degrees.

    Exact inverse of the encode chain: un-rotate the Class III lattice,
    un-scale by sqrt7^res, then invert the gnomonic projection (the
    tangent-plane point re-normalized to the sphere).
    """
    hx, hy = _ijk_to_hex2d(i, j, k)
    r = np.hypot(hx, hy)
    theta = np.arctan2(hy, hx)
    cls3 = (np.asarray(res) % 2) == 1
    theta = theta + np.where(cls3, _AP7_ROT, 0.0)  # encode subtracted it
    scale = (_SQRT7 ** np.asarray(res, np.float64)) / _RES0_U
    fx = (r / scale) * np.cos(theta)
    fy = (r / scale) * np.sin(theta)
    c = _FACE_CENTER[face]
    t = c + fx[:, None] * _FACE_E1[face] + fy[:, None] * _FACE_E2[face]
    t = t / np.linalg.norm(t, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(t[:, 2], -1.0, 1.0)))
    lon = np.degrees(np.arctan2(t[:, 1], t[:, 0]))
    return lat, lon


def hex7_center_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → center (lat, lon) degrees, in the cell's OWN face
    frame.  For face-interior cells ``hex7_id_np(center) == cell``
    (round-trip pinned by tests); for the documented edge-split cells
    the center may canonically re-home to the adjacent face — callers
    that need canonical ids re-encode (as :func:`hex7_neighbors_np`
    does)."""
    res, face, i, j, k = hex7_decode_np(cell)
    return _face_ijk_to_geo(res, face, i, j, k)


def hex7_neighbors_np(cell: np.ndarray) -> np.ndarray:
    """(N,) ids → (N, 6) canonical neighbor ids at the same res.

    The published hex algebra: a cell's 6 neighbors are its absolute
    IJK plus the 6 unit vectors (H3's CoordIJK UNIT_VECS, digits 1-6).
    Each neighbor's *center* is mapped back to geo and re-encoded, so
    cross-face neighbors re-home to their canonical owning face — the
    from-scratch replacement for H3's base-cell overage tables.
    """
    cell = np.asarray(cell, dtype=np.int64)
    res, face, i, j, k = hex7_decode_np(cell)
    rset = np.unique(res)
    if len(rset) != 1:
        raise ValueError("hex7_neighbors_np: all cells must share one res")
    r = int(rset[0])
    out = np.empty((len(cell), 6), dtype=np.int64)
    for d in range(1, 7):
        u = _UNIT_IJK[d]
        ni, nj, nk = _ijk_normalize(i + u[0], j + u[1], k + u[2])
        lat, lon = _face_ijk_to_geo(res, face, ni, nj, nk)
        out[:, d - 1] = hex7_id_np(lat, lon, r)
    return out


def hex7_disk_np(cell: np.ndarray, k: int = 1) -> np.ndarray:
    """(N,) ids → (N, M) ids of the k-disk (cell + rings 1..k), via
    repeated :func:`hex7_neighbors_np`.  M = 7^k-ish with duplicates
    (interior disks have 1+3k(k+1) distinct ids; callers dedup —
    Spark-side via ``array_distinct``, numpy via ``np.unique``)."""
    cur = np.asarray(cell, dtype=np.int64)[:, None]
    out = [cur]
    for _ in range(k):
        nxt = hex7_neighbors_np(cur.ravel()).reshape(cur.shape[0], -1)
        out.append(nxt)
        cur = nxt
    return np.concatenate(out, axis=1)


# axial disk offsets: all (di, dj) with hex distance <= k, memoized
_DISK_OFFSETS: dict[int, np.ndarray] = {}


def _disk_offsets(k: int) -> np.ndarray:
    offs = _DISK_OFFSETS.get(k)
    if offs is None:
        rows = sorted(
            (
                (di, dj)
                for di in range(-k, k + 1)
                for dj in range(-k, k + 1)
                if (abs(di) + abs(dj) + abs(di + dj)) // 2 <= k
            ),
            key=lambda d: (abs(d[0]) + abs(d[1]) + abs(d[0] + d[1])) // 2,
        )  # ring order: center first (column 0 of the disk = the cell)
        offs = _DISK_OFFSETS[k] = np.array(rows, dtype=np.int64)
    return offs


def hex7_local_disk_np(cell: np.ndarray, k: int, res: int | None = None) -> np.ndarray:
    """(N,) ids → (N, 1+3k(k+1)) k-disk ids in each cell's OWN face
    lattice — pure integer algebra, no re-encode, no float.

    Unlike :func:`hex7_disk_np` (canonical re-homing), this disk lives
    entirely in one face's unbroken gnomonic lattice, so the standard
    hexagonal covering bound holds with no face-edge caveat: the disk
    region contains every point within k·(√3/2) lattice units of the
    cell's in-disc.  Pair with source keys from
    :func:`hex7_local_cells_udf` for a provably complete candidate
    join near icosahedron edges.
    """
    cell = np.asarray(cell, dtype=np.int64)
    dres, face, i, j, k_ = hex7_decode_np(cell)
    if res is None:
        rset = np.unique(dres)
        if len(rset) != 1:
            raise ValueError("hex7_local_disk_np: cells must share one res")
        res = int(rset[0])
    ai = i - k_
    aj = j - k_
    offs = _disk_offsets(k)
    m = len(offs)
    n = len(cell)
    bi = (ai[:, None] + offs[None, :, 0]).ravel()
    bj = (aj[:, None] + offs[None, :, 1]).ravel()
    ni, nj, nk = _ijk_normalize(bi, bj, np.zeros_like(bi))
    packed = _pack_ijk(np.repeat(face, m), ni, nj, nk, res)
    return packed.reshape(n, m)


def hex7_local_disk_udf(res: int, k: int = 1):
    """Arrow UDF (lat, lon) → array<long>: the k-disk of the point's
    cell in the point's OWN argmax-face lattice (target side of the
    face-local kNN join).  Runs inside the scan stage, no shuffle."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _disk(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        base = hex7_id_np(la, lo, res)
        disks = hex7_local_disk_np(base, k, res=res)
        return pd.Series(list(disks), index=lat.index)

    return _disk


def hex7_local_cells_udf(res: int, margin_rad: float):
    """Arrow UDF (lat, lon) → array<long>: the point's cell under EVERY
    face within ``margin_rad`` of its best face (source side of the
    face-local kNN join).

    Guarantee: a target within arc distance d has its argmax face in
    this set whenever ``margin_rad >= 2 d``, so the target's face-local
    disk and one of these keys meet in the same unbroken lattice.  Away
    from icosahedron edges this emits exactly one cell; in edge bands
    2-3 — the bounded amplification that replaces H3's base-cell
    overage tables."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cells(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        mask = hex7_faces_np(la, lo, margin_rad)          # (N, 20)
        out: list[list[int]] = [[] for _ in range(len(la))]
        for f in range(20):
            sel = mask[:, f]
            if not sel.any():
                continue
            ids = hex7_local_id_np(la[sel], lo[sel], res, f)
            for row, c in zip(np.nonzero(sel)[0], ids):
                out[row].append(int(c))
        return pd.Series(out, index=lat.index)

    return _cells


# ---------------------------------------------------------------------------
# polygon polyfill (hex-grain zone cover)
# ---------------------------------------------------------------------------

def _reachable(cell: np.ndarray) -> np.ndarray:
    """True where all three res-0 IJK components are <= 2: the ids a
    point can have (see :func:`_pack_ijk`)."""
    cell = np.asarray(cell, dtype=np.int64)
    return (
        (((cell >> np.int64(50)) & np.int64(3)) != 3)
        & (((cell >> np.int64(48)) & np.int64(3)) != 3)
        & (((cell >> np.int64(46)) & np.int64(3)) != 3)
    )


def _reach_radius(res: int) -> int:
    """Hex distance from its face centre that no reachable res-``res``
    cell exceeds.  A cell is ``D(parent) + u`` with ``D`` the aperture-7
    map (a similarity of ratio sqrt(7)) and ``|u| <= 1`` lattice units,
    and a reachable res-0 cell is at most 2 units out, so a reachable
    centre is within ``R = 2 s + (s - 1) / (sqrt(7) - 1)``, ``s =
    7^(res/2)``, and each of ``|a|``, ``|b|``, ``|a - b|`` within ``2R /
    sqrt(3)`` (res 5: 390; the farthest reachable cell is at 375)."""
    s = 7.0 ** (res / 2.0)
    return math.ceil((2.0 * s + (s - 1.0) / (math.sqrt(7.0) - 1.0)) * 2.0 / math.sqrt(3.0))


def hex7_polyfill(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Classify hex cells against a polygon: (full_ids, boundary_ids).

    The hex twin of :func:`geometry.polygon_cover`, with the same
    contract — ``full`` cells are provably inside, ``boundary`` cells
    need the exact per-point PIP, everything else is provably outside —
    so a membership join built on this cover is EXACT at hex grain.
    Both outputs are res-``res`` ids, each at most once, disjoint, and
    only ids a point can have: a cell whose res-0 IJK leaves the 2-bit
    field (a lattice cell past its face's extent, see :func:`_pack_ijk`)
    is never emitted.

    Face-edge correctness: a point's canonical token is a cell of its
    argmax face's lattice, so the cover enumerates EVERY face lattice
    present near the polygon (``hex7_faces_np`` over the bbox with a
    2-cell margin) and classifies each face's cells independently; a
    cell id embeds its face, so cross-face rows are distinct keys and a
    point still joins at most once per zone.

    Per face, one pass: the axial rectangle spanning the bbox (plus a
    pad) is grown by one ring and clipped to the face's reachable
    hexagon (:func:`_reach_radius`) plus that ring; its cells in that
    hexagon are packed once and decoded to centres once.  Candidates are
    the inner cells whose centre lies in the padded bbox; each one's 6
    neighbour centres are index shifts into that centre array.
    Classification is conservative: any ring edge within 1.0× the cell's
    own max neighbor-center distance (≥ 1.7× circumradius) marks it
    boundary; remaining cells are uniform and one vectorized center PIP
    decides full/outside.  Runs on the driver; zones are small, output
    broadcasts (same scale shape as the square cover).
    """
    from geodata_spark import geometry

    allv = np.vstack(rings)
    lat0, lat1 = float(allv[:, 1].min()), float(allv[:, 1].max())
    lon0, lon1 = float(allv[:, 0].min()), float(allv[:, 0].max())
    las = np.linspace(lat0, lat1, 9)
    los = np.linspace(lon0, lon1, 9)
    gla, glo = np.meshgrid(las, los, indexing="ij")
    gla, glo = gla.ravel(), glo.ravel()
    # faces whose lattice a point in the (padded) bbox might use.
    # hex7_faces_np guarantees a point p's argmax face is inside a
    # sample's mask only when margin >= 2*dist(p, sample), so the
    # margin must scale with the 9x9 SAMPLE SPACING (a fixed cell-size
    # margin under-covers large zones near icosahedron face edges and
    # would silently drop member points from the cover) — plus the
    # 2-cell term for the lattice fuzz itself
    samp_diag = math.radians(
        math.hypot((lat1 - lat0) / 8.0, (lon1 - lon0) / 8.0)
    )
    margin = 2.5 * _RES0_U * _SQRT7 ** (-res) + samp_diag
    faces = np.nonzero(hex7_faces_np(gla, glo, margin).any(axis=0))[0]
    pad_cells = 1.5
    pad_deg = pad_cells * _SQRT7 ** (-res) * _RES0_U * 60.0  # generous
    nbr = _disk_offsets(1)[1:]
    lim = _reach_radius(res) + 1  # reachable cells and their neighbours

    fulls, bounds = [], []
    for f in faces:
        # exact axial-range enumeration in the face plane (no sampling
        # pitch to get wrong): the rectangle spans the 9x9 bbox samples
        # plus the pad and the sample spacing in cells, plus one ring
        x, y = _geo_to_forced_face_xy(gla, glo, int(f))
        i, j, k = _face_xy_to_ijk(x, y, res)
        ai, aj = i - k, j - k
        p = int(np.ceil(pad_cells)) + max(
            int(ai.max() - ai.min()), int(aj.max() - aj.min())
        ) // 8 + 3
        i0, i1 = max(ai.min() - p, -lim), min(ai.max() + p, lim)
        j0, j1 = max(aj.min() - p, -lim), min(aj.max() + p, lim)
        if i1 - i0 < 2 or j1 - j0 < 2:
            continue
        bi, bj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1), indexing="ij")
        # outside the hexagon: no id is reachable, and the NaN centre
        # keeps the cell out of the candidates
        live = np.abs(bi - bj) <= lim
        ni, nj, nk = _ijk_normalize(bi[live], bj[live], np.zeros(int(live.sum()), np.int64))
        ids = np.zeros(bi.shape, np.int64)
        ids[live] = _pack_ijk(np.full(len(ni), np.int64(f)), ni, nj, nk, res)
        cla, clo = np.full(bi.shape, np.nan), np.full(bi.shape, np.nan)
        cla[live], clo[live] = hex7_center_np(ids[live])
        h, w = bi.shape
        inner = (slice(1, h - 1), slice(1, w - 1))
        keep = (
            (cla[inner] >= lat0 - pad_deg) & (cla[inner] <= lat1 + pad_deg)
            & (clo[inner] >= lon0 - pad_deg) & (clo[inner] <= lon1 + pad_deg)
            & _reachable(ids[inner])
        )
        cand = ids[inner][keep]
        if len(cand) == 0:
            continue
        clat, clon = cla[inner][keep], clo[inner][keep]
        # per-cell conservative radius: max neighbor-center distance in
        # degree space (>= sqrt(3)x circumradius; 1.0x of it is safe)
        rad = np.zeros(len(cand))
        for di, dj in nbr:
            sh = (slice(1 + di, h - 1 + di), slice(1 + dj, w - 1 + dj))
            rad = np.maximum(
                rad, np.hypot(cla[sh][keep] - clat, clo[sh][keep] - clon)
            )
        near = np.zeros(len(cand), dtype=bool)
        for ring in rings:
            closed = np.vstack([np.asarray(ring, dtype=np.float64), ring[:1]])
            for e in range(len(closed) - 1):
                (x0, y0), (x1, y1) = closed[e], closed[e + 1]
                dx, dy = x1 - x0, y1 - y0
                L2 = dx * dx + dy * dy
                if L2 == 0.0:
                    t = np.zeros(len(cand))
                else:
                    t = np.clip(((clon - x0) * dx + (clat - y0) * dy) / L2, 0.0, 1.0)
                d2 = (clon - (x0 + t * dx)) ** 2 + (clat - (y0 + t * dy)) ** 2
                near |= d2 <= rad * rad
        inside = geometry.points_in_rings(clon, clat, rings)
        fulls.append(cand[inside & ~near])
        bounds.append(cand[near])
    return np.concatenate(fulls), np.concatenate(bounds)


def hex7_parent_np(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    """Parent id by digit truncation (set digits past parent_res to 7)."""
    cell = np.asarray(cell, dtype=np.int64)
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    out = cell & ~(np.int64(0xF) << np.int64(57))
    out = out | (np.int64(parent_res) << np.int64(57))
    for rr in range(parent_res + 1, 16):
        out = out | (np.int64(7) << np.int64(45 - 3 * rr))
    return out


def _parent_bits(parent_res: int) -> tuple[int, int]:
    """(AND mask, OR stamp) that truncate any finer id to ``parent_res``:
    clear the res nibble, stamp the parent res, set later digits to 7."""
    if not 0 <= parent_res <= 15:
        raise ValueError(f"parent_res must be 0..15, got {parent_res}")
    sevens = 0
    for rr in range(parent_res + 1, 16):
        sevens |= 7 << (45 - 3 * rr)
    return ~(0xF << 57), (parent_res << 57) | sevens


def hex7_parent_expr(cell, parent_res: int):
    """Catalyst twin of :func:`hex7_parent_np`: fine id → ancestor id.

    Pure JVM bit arithmetic (clear the res nibble, stamp the parent
    res, OR the trailing digits to 7), so hierarchical rollups pay the
    encode ONCE at the finest grain and derive every coarser
    level inside whole-stage codegen.  Truncation is transitive
    (truncate(truncate(id, r), r') == truncate(id, r')), which is what
    lets a rollup cascade re-aggregate level r' from the level-r
    aggregate instead of the fact table.  Numpy-twinned in
    tests/test_hexgrid.py.
    """
    mask, stamp = _parent_bits(parent_res)
    return cell.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(stamp))


def hex7_parent_sql(cell: str, parent_res: int) -> str:
    """:func:`hex7_parent_expr` as SQL text over the column ``cell``,
    so several ancestors render into one ``selectExpr``."""
    mask, stamp = _parent_bits(parent_res)
    return f"(({cell} & {mask}L) | {stamp}L)"


def hex7_token_expr(cell):
    """Catalyst twin of the token render in :func:`hex7_token_np`:
    id (LONG) → 16-char lowercase hex token, JVM-side."""
    return F.lpad(F.lower(F.hex(cell)), 16, "0")


# ---------------------------------------------------------------------------
# Catalyst encode: hex7_id_np as SQL projections (no Python stage)
# ---------------------------------------------------------------------------

def _sql_dbl(v: float) -> str:
    return f"{float(v)!r}D" if v >= 0 else f"({float(v)!r}D)"


_SQL_FINITE = "abs({}) < CAST('Infinity' AS DOUBLE)"  # false for NULL and NaN too
# (v + 1.5 * 2^52) - 1.5 * 2^52 is rint(v), half to even, for |v| < 2^51
# in IEEE arithmetic; Spark's rint is nullable and compiles larger
_SQL_RINT_SHIFT = f"{3 << 51}D"
_SQL_SEVENTH = _sql_dbl(1.0 / 7.0)

# face f's centre is exactly the negated centre of face 19 - f, so
# numpy's dot with face 19 - f is exactly minus its dot with face f
assert (_FACE_CENTER[::-1] == -_FACE_CENTER).all()

# per face (centre, e1, e2).  Spark's SQL parser takes ~0.1 ms per
# 17-digit double literal, so the 180 constants are one JSON string,
# which the optimizer folds into a literal.
_FACE_FRAMES_SQL = "from_json('{}', 'array<array<double>>')".format(json.dumps(
    [[float(v) for v in (*c, *e1, *e2)] for c, e1, e2 in zip(_FACE_CENTER, _FACE_E1, _FACE_E2)]
))

# walk levels inlined into one projection; codegen's subexpression
# elimination evaluates the shared inner levels once
_WALK_LEVELS_PER_PROJECTION = 3


def _sql_rint(v: str) -> str:
    return f"(({v}) + {_SQL_RINT_SHIFT} - {_SQL_RINT_SHIFT})"


def _hex7_id_projections(lat: str, lon: str, res: int) -> list[list[str]]:
    """:func:`hex7_id_np` as SQL text: a list of projections, each a
    list of ``expr AS name`` items added to the columns before it.  The
    last one yields ``__h7_id``.

    Op for op the numpy chain, except where the result is provably the
    same:

    * ``np.radians`` is a multiply by pi/180, as here;
    * the face dots are ``(x*c0 + y*c1) + z*c2``, the order of numpy's
      BLAS product and of ``np.sum`` over three terms; face 19 - f's dot
      is minus face f's, so ten dots give all twenty, and the face is
      the first maximum, whose dot is the gnomonic denominator;
    * ``np.round`` is rounding half to even (:data:`_SQL_RINT_SHIFT`);
    * the walk keeps axial (a, b) = (i - k, j - k), which normalizing
      leaves unchanged.  C ``lround(n / 7.0)`` for an integer ``n``
      (never a tie) is the nearest integer to ``n * (1/7)``, which is
      within 2^-40 of ``n / 7`` for ``|n| < 2^45``;
    * the digit at level r is ``4i + 2j + k`` of the unit residual
      (i, j, k) = normalize(da, db, 0), which is ``v mod 7`` for
      ``v = 4 da + 2 db`` in -6..6.

    A non-finite input is replaced by (0, 0) and its face nulled at the
    end, and each nullable Spark function (``cos``, ``/``, ...) is
    wrapped in ``coalesce``: non-nullable expressions compile to much
    smaller code, which keeps the generated methods of a query stage
    under the JIT's 8,000-byte limit.
    """
    rad = _sql_dbl(math.pi / 180.0)
    phi, lam = (
        f"coalesce(IF({_SQL_FINITE.format(v)}, {v}, 0D), 0D) * {rad}" for v in (lat, lon)
    )
    dots = [
        f"(__h7_x * __h7_fr[{f}][0] + __h7_y * __h7_fr[{f}][1]) + __h7_z * __h7_fr[{f}][2]"
        for f in range(10)
    ]
    face = "CASE {} ELSE 19 END".format(" ".join(
        [f"WHEN __h7_d{f} >= __h7_g THEN {f}" for f in range(10)]
        + [f"WHEN __h7_d{19 - f} <= -__h7_g THEN {f}" for f in range(10, 19)]
    ))
    t = [f"(__h7_{v} / __h7_g - __h7_c[{n}])" for n, v in enumerate("xyz")]
    u, v = (
        f"coalesce(({t[0]} * __h7_c[{k}] + {t[1]} * __h7_c[{k + 1}]) + {t[2]} * __h7_c[{k + 2}], 0D)"
        for k in (3, 6)
    )
    # gnomonic plane → lattice: polar form, Class III rotation, scale
    rs = f"hypot(__h7_u, __h7_v) * {_sql_dbl(_SQRT7 ** res / _RES0_U)}"
    theta = "atan2(__h7_v, __h7_u)"
    if _is_class_iii(res):
        theta = f"{theta} - {_sql_dbl(_AP7_ROT)}"
    aj = f"coalesce({rs} * sin({theta}) / {_sql_dbl(_SIN60)}, 0D)"
    # cube-coordinate round, as _hex2d_to_ijk
    s = "(-__h7_ai - __h7_aj)"
    rq, rr, rs_ = _sql_rint("__h7_ai"), _sql_rint("__h7_aj"), _sql_rint(s)
    dq, dr, ds = f"abs({rq} - __h7_ai)", f"abs({rr} - __h7_aj)", f"abs({rs_} - {s})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    projections = [
        [
            f"{_FACE_FRAMES_SQL} AS __h7_fr",
            f"coalesce(cos({phi}) * cos({lam}), 0D) AS __h7_x",
            f"coalesce(cos({phi}) * sin({lam}), 0D) AS __h7_y",
            f"coalesce(sin({phi}), 0D) AS __h7_z",
        ],
        [f"{d} AS __h7_d{f}" for f, d in enumerate(dots)]
        + [f"greatest({', '.join(f'abs({d})' for d in dots)}) AS __h7_g"],
        [f"{face} AS __h7_f", f"__h7_fr[{face}] AS __h7_c"],
        [f"{u} AS __h7_u", f"{v} AS __h7_v"],
        [f"{aj} AS __h7_aj", f"coalesce({rs} * cos({theta}), 0D) + {aj} * 0.5D AS __h7_ai"],
        [
            f"IF({fix_q}, -{rr} - {rs_}, {rq}) AS __h7_a{res}",
            f"IF(NOT {fix_q} AND {dr} > {ds}, -{rq} - {rs_}, {rr}) AS __h7_b{res}",
        ],
    ]
    # walk up to res 0, a few levels inlined per projection
    a, b, items = f"__h7_a{res}", f"__h7_b{res}", []
    for r in range(res, 0, -1):
        if _is_class_iii(r):
            a, b = f"(3D * {a} - {b})", f"({a} + 2D * {b})"
        else:
            a, b = f"(2D * {a} + {b})", f"(3D * {b} - {a})"
        a, b = _sql_rint(f"{a} * {_SQL_SEVENTH}"), _sql_rint(f"{b} * {_SQL_SEVENTH}")
        items += [f"{a} AS __h7_a{r - 1}", f"{b} AS __h7_b{r - 1}"]
        if len(items) == 2 * _WALK_LEVELS_PER_PROJECTION or r == 1:
            projections.append(items)
            a, b, items = f"__h7_a{r - 1}", f"__h7_b{r - 1}", []
    # digits from consecutive levels, then the id: everything below the
    # face field is an integer under 2^52, exact in a double
    low = []
    for r in range(res, 0, -1):
        a, b, pa, pb = f"__h7_a{r}", f"__h7_b{r}", f"__h7_a{r - 1}", f"__h7_b{r - 1}"
        v = (
            f"(4D * {a} + 2D * {b} - 6D * {pa} - 10D * {pb})" if _is_class_iii(r)
            else f"(4D * {a} + 2D * {b} - 14D * {pa})"
        )
        floor7 = _sql_rint(f"({v} - 3D) * {_SQL_SEVENTH}")  # floor(v / 7), v in -6..6
        low.append(f"({v} - 7D * {floor7}) * {8 ** (15 - r)}")
    m = "least(__h7_a0, __h7_b0, 0D)"
    low += [
        f"least(__h7_a0 - {m}, 3D) * {2 ** 50}",
        f"least(__h7_b0 - {m}, 3D) * {2 ** 48}",
        f"least(-{m}, 3D) * {2 ** 46}",
    ]
    stamp = res << 57
    for rr in range(res + 1, 16):
        stamp |= 7 << (45 - 3 * rr)
    finite = f"{_SQL_FINITE.format(lat)} AND {_SQL_FINITE.format(lon)}"
    projections.append([
        f"{stamp}L | shiftleft(CAST(IF({finite}, __h7_f, NULL) AS BIGINT), 52)"
        f" | CAST({' + '.join(low)} AS BIGINT) AS __h7_id"
    ])
    return projections


def with_hex7_id(df, lat_col: str, lon_col: str, res: int, out_col: str):
    """``df`` plus ``out_col``: the hex7 id (LONG) of ``(lat_col,
    lon_col)`` at ``res``, equal to :func:`hex7_id_np`, computed by
    Catalyst expressions alone — no Python stage, whole-stage codegen.
    ``out_col`` replaces a column of that name, as ``withColumn`` does.

    A NULL, NaN or ±inf latitude or longitude gives a NULL id.

    Exactness: the projections repeat numpy's operations in numpy's
    order (see :func:`_hex7_id_projections`), so ids are bit-identical
    wherever the JVM's ``sin``, ``cos``, ``atan2`` and ``hypot`` return
    numpy's values.  They may differ in the last ulp; an id can then
    differ only for a point within an ulp of a cell edge or a face
    tie.  Zone membership does not depend on such an id: a zone cover's
    margin is at least a cell's circumradius, so a point inside a zone
    lies in one of its full or boundary cells either way, and boundary
    rows keep the exact PIP test.
    """
    if not 0 <= res <= 15:
        raise ValueError(f"res must be 0..15, got {res}")
    quote = lambda c: "`" + c.replace("`", "``") + "`"  # noqa: E731
    for items in _hex7_id_projections(quote(lat_col), quote(lon_col), res):
        df = df.selectExpr("*", *items)
    # The id leaves through a one-element explode: the optimizer traces a
    # join key down through projections by inlining their aliases
    # (dynamic partition pruning), which copies each walk level once per
    # use, exponentially in ``res``; it stops at a generator.
    cols = [quote(c) for c in df.columns if not c.startswith("__h7_")]
    key = f"explode(array(__h7_id)) AS {quote(out_col)}"
    out = [key if c == quote(out_col) else c for c in cols]
    if quote(out_col) not in cols:
        out.append(key)
    return df.selectExpr(*out)


# ---------------------------------------------------------------------------
# canonical H3 (gated on the h3 wheel, like rasterio/xarray in sources.py)
# ---------------------------------------------------------------------------

def _h3_mod():
    try:
        import h3  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover - exercised via gate test
        raise NotImplementedError(
            "canonical H3 tokens need the `h3` wheel (not in this image; "
            "no network to fetch Uber's base-cell convention tables). "
            "Install h3 to activate; with_hex7_id is the from-scratch "
            "aperture-7 index with the same plumbing."
        ) from e
    return h3


def h3_token_udf(res: int):
    """Canonical H3 tokens via the ``h3`` wheel (vectorized per Arrow
    batch).  Raises NotImplementedError when the wheel is absent."""
    _h3_mod()  # fail fast at definition site, not inside executors

    @F.pandas_udf(T.StringType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        h3 = _h3_mod()
        fn = getattr(h3, "latlng_to_cell", None) or getattr(h3, "geo_to_h3")
        return pd.Series(
            [fn(la, lo, res) for la, lo in zip(lat, lon)], index=lat.index
        )

    return _enc


def with_hex_columns(df, lat_col: str = "lat", lon_col: str = "lon",
                     resolutions: tuple[int, ...] = (5, 6, 7, 8, 9)):
    """Attach ``hex7_r{res}`` id columns for each requested res."""
    for r in resolutions:
        df = with_hex7_id(df, lat_col, lon_col, r, f"hex7_r{r}")
    return df


# ---------------------------------------------------------------------------
# cover compression: compact / uncompact (H3 compactCells semantics)
# ---------------------------------------------------------------------------

def hex7_res_np(cell: np.ndarray) -> np.ndarray:
    """Resolution field of each id (bits 60-57)."""
    return (np.asarray(cell, dtype=np.int64) >> np.int64(57)) & np.int64(0xF)


def hex7_children_np(cell: np.ndarray) -> np.ndarray:
    """One-level digit children: (n, 7) ids at res+1 (digits 0..6).
    Purely combinatorial on the digit hierarchy — the inverse of
    :func:`hex7_parent_np` one level up: parent(children(c)) == c and
    the 7 children are distinct by construction."""
    cell = np.asarray(cell, dtype=np.int64)
    r = (cell >> np.int64(57)) & np.int64(0xF)
    if len(cell) and int(r.max()) >= 15:
        raise ValueError("children beyond res 15")
    nr = r + 1
    shift = (np.int64(45) - 3 * nr).astype(np.int64)
    base = (cell & ~(np.int64(0xF) << np.int64(57))) | (nr << np.int64(57))
    base = base & ~(np.int64(0x7) << shift)  # clear the 7 placeholder
    return np.stack(
        [base | (np.int64(d) << shift) for d in range(7)], axis=1
    )


def hex7_compact_np(cells: np.ndarray) -> np.ndarray:
    """Compact a cell set: recursively replace every COMPLETE set of 7
    digit-siblings by their parent (H3 ``compactCells``).  Input may
    be mixed-resolution; output covers exactly the same leaf set
    (``hex7_uncompact_np`` round-trips it) with no sibling-complete
    parent left unmerged — the minimal digit-aligned cover.

    Why it matters at scale: a polyfill cover of a large zone is
    dominated by interior cells whose parents are fully inside;
    compacting the broadcast cover shrinks it ~7× per level of
    interior depth, and membership tests join against ancestors at
    EVERY resolution present (cheap: one parent projection per res).
    Driver-side, model-sized — covers broadcast by contract."""
    cur = np.unique(np.asarray(cells, dtype=np.int64))
    done: list[np.ndarray] = []
    while len(cur):
        res = hex7_res_np(cur)
        maxr = int(res.max())
        if maxr == 0:
            done.append(cur)
            break
        hi = cur[res == maxr]
        rest = cur[res != maxr]
        par = hex7_parent_np(hi, maxr, maxr - 1)
        ps, inv, cnt = np.unique(par, return_inverse=True,
                                 return_counts=True)
        complete = cnt == 7  # 7 distinct ids sharing a parent == all digits
        done.append(hi[~complete[inv]])
        cur = np.unique(np.concatenate([rest, ps[complete]]))
    return np.sort(np.concatenate(done)) if done else cur


def hex7_uncompact_np(cells: np.ndarray, res: int) -> np.ndarray:
    """Expand a (possibly compacted, mixed-res) set to its full
    descendant set at ``res`` — inverse of :func:`hex7_compact_np`."""
    cells = np.asarray(cells, dtype=np.int64)
    if len(cells) and int(hex7_res_np(cells).max()) > res:
        raise ValueError("uncompact target res above a member's res")
    out = []
    cur = cells
    while len(cur):
        r = hex7_res_np(cur)
        at = cur[r == res]
        if len(at):
            out.append(at)
        below = cur[r < res]
        cur = hex7_children_np(below).ravel() if len(below) else below
    return np.sort(np.unique(np.concatenate(out))) if out \
        else np.empty(0, dtype=np.int64)
