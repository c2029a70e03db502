"""Hierarchical cell-ID model (the discrete analog of geodata's grid).

The reference addresses grid cells by float ``(y=lat, x=lon)`` pairs on
a regular grid and builds each cell's polygon as ``box(center±span/2)``
(reference: ``src/geodata/cutout.py:340-344``, ``dataset.py:438-442``).
This engine replaces float coordinate indexing with **discrete
hierarchical cell IDs** so that

- grid alignment becomes an *equi-join* on a long key,
- coarsening (``cutout.py:952-1001``) becomes ``groupBy(parent_id)``,
- spatial range predicates become integer range predicates that prune
  files/partitions at scan time when the table is written sorted by
  cell ID.

Two ID schemes are provided:

``grid``  — aperture-4 square tiling of lat/lon (res 5..9, res 9 =
            0.25°, matching ERA5's native grid). Pure Catalyst integer
            arithmetic → codegen'd, exactly reproducible in ANSI SQL
            (the DuckDB oracle), and the scheme used by every join in
            the engine.
``s2``    — genuine S2 cell tokens (face + Hilbert curve position),
            encoded in numpy (:func:`s2_token_np`, the public S2
            quadratic projection).  Provided for interop; not on the
            hot join path.

Cell id layout (grid scheme), one BIGINT::

    id = res * 2^54 + yi * 2^27 + xi

where at resolution r (5..9) the cell edge is ``EDGE_DEG[r] = 4 / 2^(r-5)``
degrees and ``yi = floor((lat+90)/edge)``, ``xi = floor((lon+180)/edge)``.
Parent at res r-1 is ``yi//2, xi//2`` — pure integer arithmetic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_RES = 5
MAX_RES = 9

#: cell edge length in degrees per resolution (res 9 == 0.25°, ERA5 grid)
EDGE_DEG = {r: 4.0 / (1 << (r - MIN_RES)) for r in range(MIN_RES, MAX_RES + 1)}

_RES_SHIFT = 2**54
#: y stride of packed keys: cell ids res·2⁵⁴ + y·2²⁷ + x, raster cells y·2²⁷ + x
Y_SHIFT = 2**27


# ---------------------------------------------------------------------------
# grid scheme — Catalyst expressions (hot path, oracle-reproducible)
# ---------------------------------------------------------------------------

def cell_sql(lat_sql: str, lon_sql: str, res: int) -> str:
    """Cell id of (lat, lon) at ``res`` as ANSI-SQL text over the SQL
    snippets ``lat_sql`` and ``lon_sql`` (usually column names).

    The one grid-key formula: Spark parses it (``selectExpr`` /
    ``F.expr``: floor + integer arithmetic, inside whole-stage
    codegen) and the DuckDB oracles run the same text, so both engines
    compute the key from one source.
    """
    if not MIN_RES <= res <= MAX_RES:
        raise ValueError(f"res must be in [{MIN_RES},{MAX_RES}], got {res}")
    e = EDGE_DEG[res]
    return (
        f"({res} * {_RES_SHIFT} "
        f"+ CAST(floor(({lat_sql} + 90) / {e!r}) AS BIGINT) * {Y_SHIFT} "
        f"+ CAST(floor(({lon_sql} + 180) / {e!r}) AS BIGINT))"
    )


def parent_expr(cell: Column, steps: int = 1) -> Column:
    """Parent cell id ``steps`` resolutions coarser — integer math only.

    The discrete analog of ``coarsen()`` alignment
    (reference ``cutout.py:929-1001``): a fine cell maps to exactly one
    parent, so block aggregation is ``groupBy(parent_expr(cell))``.
    """
    res = F.floor(cell / F.lit(_RES_SHIFT)).cast("long")
    rem = cell - res * F.lit(_RES_SHIFT)
    yi = F.floor(rem / F.lit(Y_SHIFT)).cast("long")
    xi = rem - yi * F.lit(Y_SHIFT)
    k = F.lit(1 << steps).cast("long")
    return (
        (res - F.lit(steps)).cast("long") * F.lit(_RES_SHIFT)
        + F.floor(yi / k).cast("long") * F.lit(Y_SHIFT)
        + F.floor(xi / k).cast("long")
    )


# ---------------------------------------------------------------------------
# numpy twins (used by the driver-side cover planner and tests)
# ---------------------------------------------------------------------------

def cell_id_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    e = EDGE_DEG[res]
    yi = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / e).astype(np.int64)
    xi = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / e).astype(np.int64)
    return res * _RES_SHIFT + yi * Y_SHIFT + xi


def cell_bounds_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_min, lat_max, lon_min, lon_max) of each cell id."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _RES_SHIFT
    rem = cell - res * _RES_SHIFT
    yi = rem // Y_SHIFT
    xi = rem - yi * Y_SHIFT
    edge = 4.0 / np.power(2.0, res - MIN_RES)
    lat0 = yi * edge - 90.0
    lon0 = xi * edge - 180.0
    return lat0, lat0 + edge, lon0, lon0 + edge


def cells_in_bbox(lat_min: float, lat_max: float, lon_min: float, lon_max: float, res: int) -> np.ndarray:
    """All res-``res`` cell ids intersecting a bbox (driver-side planner)."""
    e = EDGE_DEG[res]
    y0 = int(np.floor((lat_min + 90.0) / e))
    y1 = max(int(np.floor((lat_max + 90.0 - 1e-12) / e)), y0)
    x0 = int(np.floor((lon_min + 180.0) / e))
    x1 = max(int(np.floor((lon_max + 180.0 - 1e-12) / e)), x0)
    yy, xx = np.meshgrid(np.arange(y0, y1 + 1), np.arange(x0, x1 + 1), indexing="ij")
    return (res * _RES_SHIFT + yy.ravel() * Y_SHIFT + xx.ravel()).astype(np.int64)


# ---------------------------------------------------------------------------
# S2 tokens — real S2 cell math in numpy
# ---------------------------------------------------------------------------
# Implements the public S2 geometry scheme: lat/lon -> unit sphere ->
# cube face + (u,v) -> quadratic (s,t) -> leaf (i,j) -> Hilbert curve
# position -> 64-bit cell id truncated to `level`, rendered as the
# standard hex token. Ported from the published algorithm description
# (s2geometry.io docs); no third-party geo deps.

_LOOKUP_BITS = 4
_MAX_LEVEL = 30

# Hilbert curve tables (public S2 constants)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.int64)
_SWAP_MASK, _INVERT_MASK = 1, 2

_lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
_lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig_orient: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _lookup_pos[(ij << 2) + orig_orient] = (pos << 2) + orient
        _lookup_ij[(pos << 2) + orig_orient] = (ij << 2) + orient
        return
    for sub in range(4):
        ij = _POS_TO_IJ[orient][sub]
        _init_lookup(
            level + 1,
            (i << 1) + (ij >> 1),
            (j << 1) + (ij & 1),
            orig_orient,
            (pos << 2) + sub,
            orient ^ _POS_TO_ORIENT[sub],
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _s2_cell_ids(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    """Vectorized lat/lon (degrees) → S2 cell id at ``level``."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    theta = np.radians(np.asarray(lon, dtype=np.float64))
    cosphi = np.cos(phi)
    x = cosphi * np.cos(theta)
    y = cosphi * np.sin(theta)
    z = np.sin(phi)

    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)

    # (u, v) per face — standard S2 face coordinate frames
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (unum, uden, vnum, vden) in enumerate(
        [
            (y, x, z, x),      # face 0: +x
            (-x, y, z, y),     # face 1: +y
            (-x, z, -y, z),    # face 2: +z
            (z, x, y, x),      # face 3: -x  (u=z/x, v=y/x with x<0)
            (z, y, -x, y),     # face 4: -y
            (-y, z, -x, z),    # face 5: -z
        ]
    ):
        m = face == f
        u[m] = (unum[m] / uden[m]) if isinstance(unum, np.ndarray) else unum / uden[m]
        v[m] = (vnum[m] / vden[m]) if isinstance(vnum, np.ndarray) else vnum / vden[m]

    # quadratic projection u,v in [-1,1] -> s,t in [0,1]
    def _uv_to_st(w: np.ndarray) -> np.ndarray:
        with np.errstate(invalid="ignore"):
            return np.where(
                w >= 0, 0.5 * np.sqrt(1.0 + 3.0 * w), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * w)
            )

    s, t = _uv_to_st(u), _uv_to_st(v)
    max_ij = (1 << _MAX_LEVEL) - 1
    i = np.clip((s * (1 << _MAX_LEVEL)).astype(np.int64), 0, max_ij)
    j = np.clip((t * (1 << _MAX_LEVEL)).astype(np.int64), 0, max_ij)

    # Hilbert: interleave via 4-bit lookup
    n = np.zeros_like(i)
    bits = face & _SWAP_MASK
    for k in range(7, -1, -1):
        mask = (1 << _LOOKUP_BITS) - 1
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _lookup_pos[bits]
        n |= (bits >> 2) << np.int64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP_MASK | _INVERT_MASK

    cell = (face.astype(np.uint64) << np.uint64(61)) | (n.astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    # truncate to level
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    cell = (cell & ~(lsb - np.uint64(1)) & ~lsb) | lsb  # clear below, set lsb
    return cell


def s2_token_np(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    """S2 hex tokens (trailing zeros stripped, per the public format)."""
    ids = _s2_cell_ids(lat, lon, level)
    out = np.empty(len(ids), dtype=object)
    for k, c in enumerate(ids):
        tok = format(int(c), "016x").rstrip("0")
        out[k] = tok or "0"
    return out
