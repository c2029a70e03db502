"""Spatial join operators: span parsing, zone membership, PIP.

The engine's counterpart of the reference's rasterize/clip pipeline:

- ``add_shape_layer`` (polygon rasterization / PIP join,
  ``src/geodata/mask.py:503-605``)  →  :func:`join_zones`
- ``extract_shapes`` (per-zone clip / semi-join, ``mask.py:607-705``)
  →  :func:`extract_zone_cells`
- ``cutout.mask(dataset)`` grid-aligned overlay (``cutout.py:440-500``)
  →  a per-point membership lookup on cell id

Plan shape (scale rationale): the polygon set is tiny (province-scale
zone lists), the point/span table is the 10^12-row side.  The polygons
are therefore planned **on the driver** into one cover per catalog
(:func:`_plan_cover`: per row a zone, a cell key, a boundary flag and
the edges a boundary cell needs) via the Sutherland-Hodgman planner
(geometry.polygon_cover), memoized, packed into bytes and **broadcast
once per SparkContext**; membership is one compiled JVM function
(:func:`zone_member`, ``jvm/ZoneMember.java``) that looks up the
point's cell key in the sorted cover.  A query is then one projection
and an ``explode`` of the zone ids: no join, no per-query broadcast,
no Python stage, at both grains (the hex encode is one compiled JVM
function too, :func:`hexgrid.with_hex7_id`).  Rows in *boundary*
cells (a thin O(perimeter) sliver) take the exact PIP test over the
polygon edges their cover row carries — the analog of the reference's
per-boundary-pixel geometry_mask test (``mask.py:593-599``).  No SQL
text grows with the zone count or size; the cost scales with the
edges per boundary cell.  The clip (:func:`extract_zone_cells`) reads
the same memoized cover on the driver, so it runs no job to build.
"""

from __future__ import annotations

import struct
import threading
import weakref
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from geodata_spark import cells, geometry, sqltext
from geodata_spark.zones import ZONES

def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span, order preserved.

    ``posexplode`` keeps the array position so span-sequence equality
    (the per-row invariant vs the reference) remains checkable after
    any shuffle.
    """
    return docs.selectExpr("doc_id", "posexplode(spans) AS (span_idx, span)").selectExpr(
        "doc_id", "span_idx", "span.kind AS kind", "span.text AS text",
        "span.media_ref AS media_ref", "span.offset AS offset",
    )


_HOUR_SQL = "CAST(substring_index(substring_index(span.media_ref, '#', 1), '@h', -1) AS BIGINT)"
#: the typed fields of ``span.media_ref`` as ``expr AS name`` items
#: (lat, lon, hour, val, ts); :mod:`sql_surface`'s ``geo_points`` view
#: renders the same text
GEO_FIELDS_SQL = [
    "CAST(substring_index(substring_index(span.media_ref, ',', 1), ':', -1) AS DOUBLE) AS lat",
    "CAST(substring_index(substring_index(span.media_ref, '@', 1), ',', -1) AS DOUBLE) AS lon",
    f"{_HOUR_SQL} AS hour",
    "CAST(substring_index(span.media_ref, '=', -1) AS DOUBLE) AS val",
    f"timestamp'2011-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST({_HOUR_SQL} AS INT)) AS ts",
]


def parse_geo_spans(docs: DataFrame, kinds: tuple[str, ...] = ("geo",)) -> DataFrame:
    """Explode + parse geo-referenced media_refs into typed columns.

    Output: (doc_id, span_idx, kind, offset, lat, lon, hour, val, ts),
    one row per span whose kind is in ``kinds``, in array order
    (``span_idx`` is the span's position in ``spans``).  Format (both
    ``geo:`` and ``tile:``)::

        geo:{lat},{lon}@h{hour}#var={name}&val={val}
        lat  = between first ':' and first ','
        lon  = between first ',' and first '@'
        hour = between '@h' and first '#'
        val  = after the last '='
        ts   = 2011-01-01T00:00 + hour hours

    The plan is three steps of SQL text (``posexplode``, the kind
    filter, one projection of :data:`GEO_FIELDS_SQL`), each parsed
    once; Column algebra would pay a py4j round trip per operator.
    Fields are cut with ``substring_index`` chains (plain byte scans),
    not a regex ``split``: the optimizer copies a parse expression into
    every filter and projection that uses it, and a split pays a regex
    pass and an array allocation per copy (measured 1.36x on the
    scan+parse stage, r8).  All parsing is JVM-side.

    Malformed refs are guarded by the ``kind`` filter (structurally
    valid by construction of the corpus).  Kinds are quoted as SQL
    string literals (:func:`sqltext.lit`), whatever they hold.
    """
    kind_in = f"span.kind IN ({', '.join(sqltext.lit(k) for k in kinds)})" if kinds else "false"
    return (
        docs.selectExpr("doc_id", "posexplode(spans) AS (span_idx, span)")
        .filter(kind_in)
        .selectExpr(
            "doc_id", "span_idx", "span.kind AS kind", "span.offset AS offset",
            *GEO_FIELDS_SQL,
        )
    )


# The cover memos are LRU-bounded at this many entries.  The registry
# uses two covers per session (grid res 9, hex res 5); the larger, grid
# res 9 over ZONES, is 33,094 rows; hex res 5 is 30,290 rows (its full
# cells compacted).
COVER_CACHE_LIMIT = 8

# A cover's edge lists hold at most this many edges in all.  The cover
# is broadcast and an edge is five doubles, so the bound keeps its
# edges near 40 MB.  ZONES holds 248 at grid res 9 and 29,388 at
# hex res 5.
COVER_EDGE_LIMIT = 1_000_000

# Degrees around a grid cell's band: a point lies in its cell up to the
# rounding of lat + 90, a crossing east of its edge up to a few ulps
_GRID_BAND_PAD = 1e-9

# (catalog hash, res, grain) -> planned _Cover
_COVER_CACHE: OrderedDict[tuple, "_Cover"] = OrderedDict()
# (SparkContext id, catalog hash, res, grain) -> _Member: the cover's
# broadcast and the sessions its membership function is registered in.
# The id is safe as a key: the entry keeps its SparkContext alive.
_MEMBER_CACHE: OrderedDict[tuple, "_Member"] = OrderedDict()
# join_zones runs from lineage's partition threads: one lock guards
# the memos, and holding it across a build runs one planner and one
# broadcast per key however many threads ask
_COVER_LOCK = threading.Lock()


def _lru_get(cache: OrderedDict, key: tuple):
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
    return hit


def _lru_put(cache: OrderedDict, key: tuple, value) -> list:
    """Insert ``value`` and return the entries evicted to make room."""
    cache[key] = value
    evicted = []
    while len(cache) > COVER_CACHE_LIMIT:
        evicted.append(cache.popitem(last=False)[1])
    return evicted


def _zones_key(zones: dict[str, list[np.ndarray]]) -> str:
    """Content hash of a zone catalog (cache key for cover artifacts)."""
    import hashlib

    h = hashlib.sha256()
    for zid in sorted(zones):
        h.update(zid.encode())
        for ring in zones[zid]:
            h.update(np.ascontiguousarray(ring, dtype=np.float64).tobytes())
    return h.hexdigest()


def _ring_edges(rings: list[np.ndarray]) -> np.ndarray:
    """(6, E): y1, y2, x1, dx, dy and east end of the rings' edges, as
    :func:`geometry.points_in_polygon` takes them, less the horizontal
    ones, which never toggle its ray test."""
    parts = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:, 0], r[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        e = np.stack([y1, y2, x1, x2 - x1, y2 - y1, np.maximum(x1, x2)])
        parts.append(e[:, y1 != y2])
    return np.concatenate(parts, axis=1)


def _crossing_edges(
    edges: np.ndarray, south: np.ndarray, north: np.ndarray, west: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per cell, the edges a rightward ray from the cell can cross: a
    crossing needs ``y_min <= lat < y_max`` and ``lon < x`` on the edge,
    so the others meet no band ``[south, north]`` or end west of
    ``west``.  Returns (edges per cell, edge indices in cell order)."""
    y1, y2, east = edges[0], edges[1], edges[5]
    lo, hi = np.minimum(y1, y2), np.maximum(y1, y2)
    hits = [
        np.flatnonzero((lo[k] <= north) & (hi[k] >= south) & (east[k] >= west))
        for k in range(edges.shape[1])
    ]
    cell = np.concatenate([np.empty(0, np.int64), *hits])
    edge = np.repeat(np.arange(edges.shape[1]), [len(h) for h in hits])
    return np.bincount(cell, minlength=len(west)), edge[np.argsort(cell, kind="stable")]


class _Cover(NamedTuple):
    """A planned zone cover: one row per (zone, cell), in arrays.

    Row ``i`` is zone ``zone[i]``'s cell ``key[i]``; its edges are the
    columns ``offsets[i]:offsets[i + 1]`` of ``edges``, whose five rows
    are ``y1, y2, x1, dx = x2 - x1, dy = y2 - y1``.  See
    :func:`_plan_cover` for the contract."""

    zone: np.ndarray  # object: zone id per row
    key: np.ndarray  # int64: cell id per row
    boundary: np.ndarray  # bool: the row needs the exact PIP test
    offsets: np.ndarray  # int32, rows + 1: edge range per row
    edges: np.ndarray  # float64, (5, E)


def _plan_cover(zones: dict[str, list[np.ndarray]], res: int, grain: str) -> _Cover:
    """The cover of a zone catalog at ``res``, planned on the driver and
    memoized per (catalog, res, grain), LRU-bounded by
    ``COVER_CACHE_LIMIT``: a plan artifact like a prepared statement,
    built once per catalog and reused by every query.  Call under
    ``_COVER_LOCK``.

    Rows are per zone in catalog order, full cells then boundary cells.
    ``boundary`` rows are res-``res`` cells that require the exact PIP
    test; their edges are every edge of the zone's rings a rightward
    ray from the cell can cross (the horizontal ones never can).  Full
    rows hold no edges and prove membership by cell containment alone:

    - ``grain="grid"``: res-``res`` square cells
      (:func:`geometry.polygon_cover`), matched by equality with the
      point's ``cell_r{res}``.  A boundary cell's band is its extent
      padded by ``_GRID_BAND_PAD``.
    - ``grain="hex"``: each zone's full hexagonal cells
      (hexgrid.hex7_polyfill) compacted (hexgrid.hex7_compact_np), so
      a full row may be an ancestor at any res up to ``res``; it holds
      every res-``res`` descendant, and a point's res-``res`` id
      matches at most one full row per zone.  Look up the point's
      ancestors at the resolutions the cover holds, as
      :func:`join_zones` does.  A boundary cell's band is the disc of
      :func:`hexgrid.hex7_extent_np` (a margin of at least 0.7
      circumradius).  ZONES at res 5: 8,734 full rows at res 1-5 for
      196,690 cells, next to 21,556 boundary rows.

    In both grains a ``(zone, key)`` pair appears once, and full and
    boundary rows of a zone never overlap.

    The edges grow with the edges per boundary cell (a zone of
    thousands of vertices gives a cell the edges of its latitude band).
    Above ``COVER_EDGE_LIMIT`` edges it raises ``ValueError`` naming the
    zone and edge counts, and memoizes nothing; plan at a finer
    resolution or split zones."""
    key = (_zones_key(zones), res, grain)
    cover = _lru_get(_COVER_CACHE, key)
    if cover is not None:
        return cover
    from geodata_spark import hexgrid as HG

    zids, ids, flags, counts, values = [], [], [], [], []
    for zid, rings in zones.items():
        if grain == "hex":
            full, boundary = HG.hex7_polyfill(rings, res)
            full = HG.hex7_compact_np(full)
            clat, clon, rad = HG.hex7_extent_np(boundary, res)
            band = (clat - rad, clat + rad, clon - rad)
        else:
            full, boundary = geometry.polygon_cover(rings, res)
            south, north, west, _ = cells.cell_bounds_np(boundary)
            band = (south - _GRID_BAND_PAD, north + _GRID_BAND_PAD, west - _GRID_BAND_PAD)
        edges = _ring_edges(rings)
        n_edges, edge_idx = _crossing_edges(edges, *band)
        n = len(full) + len(boundary)
        # repeat one str reference; np.full would copy it per row
        zids.append(np.repeat(np.array([zid], dtype=object), n))
        ids.append(np.concatenate([full, boundary]).astype(np.int64))
        flags.append(np.arange(n) >= len(full))
        counts.append(np.concatenate([np.zeros(len(full), np.int64), n_edges]))
        values.append(edges[:5, edge_idx])
    per_zone = [int(c.sum()) for c in counts]
    if sum(per_zone) > COVER_EDGE_LIMIT:
        top = int(np.argmax(per_zone))
        raise ValueError(
            f"zone cover at {grain} res {res}: {len(zones)} zones give "
            f"{sum(per_zone)} crossing edges on their boundary cells, above "
            f"COVER_EDGE_LIMIT = {COVER_EDGE_LIMIT}; zone {list(zones)[top]!r} "
            f"alone gives {per_zone[top]}"
        )
    cover = _Cover(
        np.concatenate(zids),
        np.concatenate(ids),
        np.concatenate(flags),
        np.concatenate([[0], np.cumsum(np.concatenate(counts))]).astype(np.int32),
        np.concatenate(values, axis=1),
    )
    _lru_put(_COVER_CACHE, key, cover)
    return cover


class _Member:
    """A cover's membership function: the broadcast of its packed
    bytes, the resolutions its keys hold, the function's name and the
    sessions it is registered in."""

    def __init__(self, sc, broadcast, levels: list[int], name: str):
        self.sc, self.broadcast, self.levels, self.name = sc, broadcast, levels, name
        self.sessions: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

    def evict(self) -> None:
        """Drop the function from its sessions and the executors' copies
        of the cover.  The broadcast is unpersisted, never destroyed: a
        plan built before still runs, fetching the driver's copy."""
        from geodata_spark import deploy

        for spark in list(self.sessions):
            if spark.sparkContext._jsc is not None:
                deploy.drop_java_udf(spark, self.name)
        if self.sc._jsc is not None:
            self.broadcast.unpersist(False)


def _pack_cover(cover: _Cover) -> bytes:
    """A planned cover as the big-endian bytes ``jvm/ZoneMember.java``
    reads: the zone ids, then per row sorted by key its key, zone
    index, edge range and boundary flag, then five doubles per edge."""
    names, zone = np.unique(cover.zone, return_inverse=True)
    order = np.argsort(cover.key, kind="stable")
    head = [struct.pack(">i", len(names))]
    for name in names:
        b = str(name).encode()
        head += [struct.pack(">i", len(b)), b]
    return b"".join(
        head
        + [
            struct.pack(">i", len(order)),
            cover.key[order].astype(">i8").tobytes(),
            zone[order].astype(">i4").tobytes(),
            cover.offsets[:-1][order].astype(">i4").tobytes(),
            cover.offsets[1:][order].astype(">i4").tobytes(),
            cover.boundary[order].astype(np.uint8).tobytes(),
            struct.pack(">i", cover.edges.shape[1]),
            np.ascontiguousarray(cover.edges.T, dtype=">f8").tobytes(),
        ]
    )


def zone_member_name(zones: dict[str, list[np.ndarray]] | None, res: int, grain: str = "grid") -> str:
    """The name :func:`zone_member` registers a cover's function under:
    it depends only on the catalog (``None`` is ZONES), res and grain."""
    return f"zone_member_{grain}{res}_{_zones_key(zones or ZONES)[:16]}"


def zone_member(
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
    grain: str = "grid",
) -> tuple[str, list[int]]:
    """The name of ``spark``'s zone-membership function for a cover, and
    the resolutions of the cover's keys (one at grid grain; every res
    of a compacted hex cover).

    ``name(key, lat, lon)`` (BIGINT, DOUBLE, DOUBLE) returns the ids of
    the zones whose cover rows at ``key`` contain the point: every full
    row, and each boundary row whose edges the point's rightward ray
    crosses an odd number of times.  That test is the IEEE op sequence
    of :func:`geometry.points_in_polygon`, so membership equals
    :func:`geometry.points_in_rings` bit for bit, on edges and vertices
    too, for any zone size.  A NULL key has no zones; a NULL or NaN
    coordinate only the zones of full rows.

    The function is ``jvm/ZoneMember.java`` over one broadcast of the
    packed cover (:func:`_plan_cover`), made once per (SparkContext,
    catalog, res, grain) and registered once per session
    (:func:`deploy.java_udf`), so a query ships no cover and runs no
    job to build one.  Broadcasts are
    LRU-bounded by ``COVER_CACHE_LIMIT``: an eviction drops the
    function from its sessions and unpersists the broadcast, without
    destroying it.  SQL text may name the function
    (:func:`zone_member_name`) once this registered it in the session."""
    from geodata_spark import deploy

    zones = zones or ZONES
    sc = spark.sparkContext
    key = (id(sc), _zones_key(zones), res, grain)
    with _COVER_LOCK:
        # SparkContext.stop() clears _jsc: its broadcasts are gone
        for k in [k for k, m in _MEMBER_CACHE.items() if m.sc._jsc is None]:
            del _MEMBER_CACHE[k]
        member = _lru_get(_MEMBER_CACHE, key)
        if member is None:
            cover = _plan_cover(zones, res, grain)
            if grain == "hex":
                from geodata_spark import hexgrid as HG

                levels = np.unique(HG.hex7_res_np(cover.key)).tolist()
            else:
                levels = [res]
            member = _Member(
                sc, sc._jsc.broadcast(_pack_cover(cover)), levels,
                zone_member_name(zones, res, grain),
            )
            for old in _lru_put(_MEMBER_CACHE, key, member):
                old.evict()
        if spark not in member.sessions:
            deploy.java_udf(
                spark, member.name, "geodata_spark.jvm.ZoneMember",
                T.ArrayType(T.StringType(), False), member.broadcast,
            )
            member.sessions.add(spark)
        return member.name, member.levels


def join_zones(
    points: DataFrame,
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
    lat_col: str = "lat",
    lon_col: str = "lon",
    grain: str = "grid",
    hex_encode: str = "row",
) -> DataFrame:
    """Attach ``zone_id`` to every point row (inner join semantics).

    A point matching k zones yields k rows (zones may overlap, matching
    the reference's independent per-zone shape masks).  Points in no
    zone are dropped — the analog of nodata outside the mask.

    One scan, one projection and no join: each point's cell key goes
    through the session's membership function (:func:`zone_member`),
    and ``explode`` of the zone ids it returns gives the rows.  The
    function holds the cover as one broadcast per SparkContext, so the
    query plans no ``BroadcastExchange``, runs no job to collect the
    cover, and has no Python stage.  The result equals
    :func:`geometry.points_in_rings` for any zone size; its cost scales
    with the edges per boundary cell, and the broadcast with the edges
    per cover (bounded by ``COVER_EDGE_LIMIT``).

    ``grain="hex"`` keys membership on the aperture-7 hexagonal index
    instead of the square grid: identical output rows (the cover's
    full/boundary contract is grain-independent — full cells prove
    membership, boundary cells fall through to the same exact PIP),
    different key.  The point-side encode is
    :func:`hexgrid.with_hex7_probe`: the JVM encode of
    :func:`hexgrid.with_hex7_id`, in the scan stage, followed by the
    generator of the probe keys.  The cover's full cells are compacted,
    so each point probes its ancestor at every res the cover holds (bit
    truncation in the JVM, one generated row each), the function runs
    on each probe key, and the output's ``cell_hex{res}`` is the
    point's own id, carried beside the probe.  The JVM's trigonometry
    may differ from numpy's in the last ulp, so a point within an ulp
    of a cell edge may get the neighbouring id; it still lies in one of
    the zone's full or boundary cells (the cover's margin is at least a
    circumradius), and boundary rows keep the exact PIP test, whose
    edges cover the cell with a margin, so membership does not change.

    Output columns: the key (``cell_r{res}`` or ``cell_hex{res}``,
    the point's own cell id), then the point's columns in order
    (a column of the key's name is replaced), then ``zone_id``.  Each
    step is built from SQL text (the grid key is
    :func:`cells.cell_sql`), with column names quoted by
    :func:`sqltext.ident`; no text grows with the zone count.

    A point whose ``lat_col`` or ``lon_col`` is NULL, NaN or ±inf is
    in no zone, at both grains: its key matches no cover row.

    Known failure mode: the driver keeps the broadcast's copy of the
    cover, so a lost executor costs a re-fetch, not the query; a
    stopped SparkContext takes the broadcast with it, and the next call
    in a new context broadcasts again.

    ``hex_encode`` is accepted for compatibility and ignored: both
    ``"row"`` and ``"dim"`` encode in one pass over the input.
    """
    fn, levels = zone_member(spark, zones, res, grain)
    lat, lon = sqltext.ident(lat_col), sqltext.ident(lon_col)
    cell_col = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
    pcols = [sqltext.ident(c) for c in points.columns if c != cell_col]
    if grain == "hex":
        from geodata_spark import hexgrid as HG

        # a point without a finite position has a NULL id: no zones.
        # A point matches at most one compacted full row per zone and
        # boundary rows are res-``res`` only, so the probes give the
        # rows of the plain lookup of the point's id, which the
        # output's key column gets back from ``__h7_id``.
        pts = HG.with_hex7_probe(points, lat_col, lon_col, res, levels, cell_col)
        key = f"__h7_id AS {cell_col}"
    else:
        # A point without a finite position gets key -1, which no cover
        # row holds (cover ids are non-negative), so it matches no zone;
        # the encode would raise on NaN.  The key is then not nullable,
        # so the optimizer infers no isnotnull(key) filter to push below
        # the encode, which would evaluate it twice.
        key = cell_col
        finite = f"abs({lat}) < CAST('Infinity' AS DOUBLE) AND abs({lon}) < CAST('Infinity' AS DOUBLE)"
        cell = f"coalesce(CASE WHEN {finite} THEN {cells.cell_sql(lat, lon, res)} END, -1L)"
        pts = points.selectExpr(*pcols, f"{cell} AS {cell_col}")
    zone = f"explode({fn}({cell_col}, CAST({lat} AS DOUBLE), CAST({lon} AS DOUBLE))) AS zone_id"
    # key first (the point's own id), the point's columns, zone_id
    return pts.selectExpr(key, *pcols, zone)


def extract_zone_cells(
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
) -> DataFrame:
    """Per-zone cell table — the discrete ``extract_shapes`` semi-join.

    Returns (zone_id, cell_r{res}, interior) where interior cells are
    wholly inside the zone.  Boundary cells are resolved by testing the
    cell *center*, matching rasterio's all_touched=False default in the
    reference's clip (``mask.py:682``), with
    :func:`geometry.points_in_rings`, the test :func:`join_zones`
    matches bit for bit.  The rows are built on the driver from the
    memoized grid cover (:func:`_plan_cover`) in its row order, as one
    local relation: building runs no job and registers no function.
    """
    import pyarrow as pa

    zones = zones or ZONES
    with _COVER_LOCK:
        cover = _plan_cover(zones, res, "grid")
    keep = ~cover.boundary
    for zid, rings in zones.items():
        rows = np.flatnonzero(cover.boundary & (cover.zone == zid))
        south, north, west, east = cells.cell_bounds_np(cover.key[rows])
        keep[rows] = geometry.points_in_rings((west + east) / 2, (south + north) / 2, rings)
    cell_col = f"cell_r{res}"
    schema = T.StructType(
        [
            T.StructField("zone_id", T.StringType(), False),
            T.StructField(cell_col, T.LongType(), False),
            T.StructField("interior", T.BooleanType(), False),
        ]
    )
    table = pa.table(
        {
            "zone_id": pa.array(cover.zone[keep], pa.string()),
            cell_col: cover.key[keep],
            "interior": ~cover.boundary[keep],
        }
    )
    return spark.createDataFrame(table, schema)
