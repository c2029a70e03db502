"""Spatial join operators: span parsing, zone cover join, PIP.

The engine's counterpart of the reference's rasterize/clip pipeline:

- ``add_shape_layer`` (polygon rasterization / PIP join,
  ``src/geodata/mask.py:503-605``)  →  :func:`join_zones`
- ``extract_shapes`` (per-zone clip / semi-join, ``mask.py:607-705``)
  →  :func:`extract_zone_cells`
- ``cutout.mask(dataset)`` grid-aligned overlay (``cutout.py:440-500``)
  →  broadcast equi-join on cell id

Plan shape (scale rationale): the polygon set is tiny (province-scale
zone lists), the point/span table is the 10^12-row side.  The polygons
are therefore compiled **on the driver** into a cover table
(zone_id, cell_r{res}, boundary) via the Sutherland-Hodgman planner
(geometry.polygon_cover) and **broadcast**; membership becomes a
broadcast hash equi-join on the cell id, fully JVM-side at both grains
(the hex encode is Catalyst projections, :func:`hexgrid.with_hex7_id`).
Rows in *boundary* cells (a thin O(perimeter) sliver) take the exact
PIP test — compiled into Catalyst by default, or an Arrow UDF for big
polygon sets — the analog of the reference's per-boundary-pixel
geometry_mask test (``mask.py:593-599``).
"""

from __future__ import annotations

import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geodata_spark import cells, geometry
from geodata_spark.zones import ZONES

GEO_REF_RE = r"^(?:geo|tile):([0-9.+-]+),([0-9.+-]+)@h([0-9]+)#[a-z0-9=&_]*val=([0-9.]+)$"


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span, order preserved.

    ``posexplode`` keeps the array position so span-sequence equality
    (the per-row invariant vs the reference) remains checkable after
    any shuffle.
    """
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def parse_geo_spans(docs: DataFrame, kinds: tuple[str, ...] = ("geo",)) -> DataFrame:
    """Explode + parse geo-referenced media_refs into typed columns.

    All parsing is JVM-side — no Python.  Fields are cut with
    ``substring_index`` chains (plain byte scans) rather than a regex
    ``split``: split pays a regex engine pass plus an 8-element array
    allocation per evaluation, and the optimizer DUPLICATES parse
    expressions (the pushed ``isnotnull(join-key)`` filter and the
    projection each carry their own copy — plan-visible as split()
    appearing in both Filter and Project), so the per-evaluation cost
    is paid up to 6x per row.  Independent per-field byte scans make
    every copy cheap; measured 1.36x on the scan+parse stage and 1.2x
    on the whole flagship (r8).  Format (both `geo:` and `tile:`)::

        geo:{lat},{lon}@h{hour}#var={name}&val={val}
        lat  = between first ':' and first ','
        lon  = between first ',' and first '@'
        hour = between '@h' and first '#'
        val  = after the last '='

    Output: (doc_id, span_idx, kind, offset, lat, lon, hour, ts, val).
    Malformed refs are guarded by the ``kind`` filter (structurally
    valid by construction of the corpus); ``GEO_REF_RE`` remains the
    validation pattern for audit paths.
    """
    spans = explode_spans(docs).filter(F.col("kind").isin(*kinds))
    m = F.col("media_ref")
    # two select passes, not six withColumns: every withColumn copies +
    # re-analyzes the whole plan on the driver, which dominated cold
    # query latency
    parsed = spans.select(
        "doc_id",
        "span_idx",
        "kind",
        "offset",
        F.substring_index(F.substring_index(m, ",", 1), ":", -1)
        .cast("double").alias("lat"),
        F.substring_index(F.substring_index(m, "@", 1), ",", -1)
        .cast("double").alias("lon"),
        F.substring_index(F.substring_index(m, "#", 1), "@h", -1)
        .cast("long").alias("hour"),
        F.substring_index(m, "=", -1).cast("double").alias("val"),
    )
    return parsed.select(
        "doc_id", "span_idx", "kind", "offset", "lat", "lon", "hour", "val",
        F.expr(
            "timestamp'2011-01-01 00:00:00' + make_interval(0,0,0,0, CAST(hour AS INT))"
        ).alias("ts"),
    )


# Both cover memos are LRU-bounded at this many entries.  The registry
# uses two covers per session (grid res 9, hex res 5); the larger, grid
# res 9 over ZONES, is 33,094 rows; hex res 5 is 30,290 rows (its full
# cells compacted): 0.5 MB of planned columns and 3.1 MB of checkpoint
# blocks per session.
COVER_CACHE_LIMIT = 8

# (catalog hash, res, grain) -> planned cover columns
_COVER_CACHE: OrderedDict[tuple, pd.DataFrame] = OrderedDict()
# (session id, catalog hash, res, grain) -> checkpointed cover DataFrame.
# The id is safe as a key: the cached DataFrame keeps its session alive.
_COVER_DF_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
# join_zones runs from lineage's partition threads: one lock guards
# both memos, and holding it across a build runs one planner and one
# checkpoint job per key however many threads ask at once
_COVER_LOCK = threading.Lock()


def _lru_get(cache: OrderedDict, key: tuple):
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
    return hit


def _lru_put(cache: OrderedDict, key: tuple, value) -> None:
    cache[key] = value
    while len(cache) > COVER_CACHE_LIMIT:
        cache.popitem(last=False)


def _zones_key(zones: dict[str, list[np.ndarray]]) -> str:
    """Content hash of a zone catalog (cache key for cover artifacts)."""
    import hashlib

    h = hashlib.sha256()
    for zid in sorted(zones):
        h.update(zid.encode())
        for ring in zones[zid]:
            h.update(np.ascontiguousarray(ring, dtype=np.float64).tobytes())
    return h.hexdigest()


def _cover_columns(
    zones: dict[str, list[np.ndarray]], res: int, grain: str, cell_col: str
) -> pd.DataFrame:
    """Memoized cover planning: the cover of a zone set at a resolution
    is a deterministic plan artifact (like a prepared statement) —
    real deployments build it once per zone catalog and reuse it across
    every query, so repeated plan builds must not re-run the planner.
    ``grain="hex"`` plans the cover on the aperture-7 hexagonal index
    (hexgrid.hex7_polyfill — same full/boundary contract) and compacts
    each zone's full cells (hexgrid.hex7_compact_np).  Rows are per
    zone in catalog order, full cells then boundary cells, held as
    three columns.  Call under ``_COVER_LOCK``."""
    key = (_zones_key(zones), res, grain)
    cols = _lru_get(_COVER_CACHE, key)
    if cols is None:
        if grain == "hex":
            from geodata_spark import hexgrid as HG

            def cover_fn(rings):
                full, boundary = HG.hex7_polyfill(rings, res)
                return HG.hex7_compact_np(full), boundary
        else:
            cover_fn = lambda rings: geometry.polygon_cover(rings, res)  # noqa: E731
        zids, ids, flags = [], [], []
        for zid, rings in zones.items():
            for part, boundary in zip(cover_fn(rings), (False, True)):
                # repeat one str reference; np.full would copy it per row
                zids.append(np.repeat(np.array([zid], dtype=object), len(part)))
                ids.append(np.asarray(part, dtype=np.int64))
                flags.append(np.full(len(part), boundary))
        cols = pd.DataFrame(
            {
                "zone_id": np.concatenate(zids),
                cell_col: np.concatenate(ids),
                "boundary": np.concatenate(flags),
            }
        )
        _lru_put(_COVER_CACHE, key, cols)
    return cols


def zone_cover_df(
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
    grain: str = "grid",
) -> DataFrame:
    """(zone_id, cell_r{res}, boundary) cover table, built on the driver.

    Zones are small; the output is meant to sit on the broadcast side
    of the membership join.  ``boundary=true`` rows are res-``res``
    cells that require the exact PIP test.  ``boundary=false`` rows
    prove membership by cell containment alone:

    - ``grain="grid"``: res-``res`` square cells, matched by equality
      with the point's ``cell_r{res}``.
    - ``grain="hex"``: ``cell_hex{res}`` holds each zone's full
      hexagonal cells (hexgrid.hex7_polyfill) compacted
      (hexgrid.hex7_compact_np), so a full row may be an ancestor at
      any res up to ``res``; it holds every res-``res`` descendant,
      and a point's res-``res`` id matches at most one full row per
      zone.  Join on the point's ancestors at the resolutions the
      cover holds, as :func:`join_zones` does.  ZONES at res 5:
      8,734 full rows at res 1-5 for 196,690 cells, next to 21,556
      boundary rows.

    In both grains a ``(zone_id, cell)`` pair appears once, and full
    and boundary rows of a zone never overlap.

    The cover is materialized once per (session, catalog, res, grain):
    the first call runs one local-checkpoint job, and every later call
    in that session returns the same DataFrame, whose plan scans the
    checkpoint (``Scan ExistingRDD``).  A literal ``LocalRelation``
    instead would be re-optimized and shipped inside the tasks of
    every query that uses it.  Memos are LRU-bounded by
    ``COVER_CACHE_LIMIT``; entries of stopped sessions are dropped.

    Known failure mode: a local checkpoint lives only in the executors'
    block managers and has no lineage to recompute from.  Losing an
    executor that holds a cover block fails every later query that
    uses the cover until the session is restarted.
    """
    zones = zones or ZONES
    cell_col = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
    key = (id(spark), _zones_key(zones), res, grain)
    with _COVER_LOCK:
        # SparkContext.stop() clears _jsc: such a session's blocks are gone
        for k in [
            k for k, df in _COVER_DF_CACHE.items()
            if df.sparkSession.sparkContext._jsc is None
        ]:
            del _COVER_DF_CACHE[k]
        hit = _lru_get(_COVER_DF_CACHE, key)
        if hit is not None:
            return hit
        schema = T.StructType(
            [
                T.StructField("zone_id", T.StringType(), False),
                T.StructField(cell_col, T.LongType(), False),
                T.StructField("boundary", T.BooleanType(), False),
            ]
        )
        # Arrow path: per-tuple Python serialization in createDataFrame
        # dominated plan-build latency for covers of O(10^4+) rows
        df = spark.createDataFrame(
            _cover_columns(zones, res, grain, cell_col), schema
        ).localCheckpoint(eager=True)
        _lru_put(_COVER_DF_CACHE, key, df)
        return df


def pip_udf(spark: SparkSession, zones: dict[str, list[np.ndarray]] | None = None):
    """Arrow-vectorized PIP: (zone_id, lat, lon) → bool.

    The polygon set is broadcast once (pickled rings), not re-captured
    per task via closure.  Batches are grouped by zone inside the UDF
    so each polygon's ray cast runs over a contiguous numpy slab.
    """
    from geodata_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    zones = zones or ZONES
    bc = spark.sparkContext.broadcast({z: [r.copy() for r in rs] for z, rs in zones.items()})

    @F.pandas_udf(T.BooleanType())
    def _pip(zone_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = np.zeros(len(zone_id), dtype=bool)
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        zs = zone_id.to_numpy()
        for z in pd.unique(zs):
            m = zs == z
            out[m] = geometry.points_in_rings(lo[m], la[m], bc.value[z])
        return pd.Series(out, index=zone_id.index)

    return _pip


def pip_ring_sql(lat: str, lon: str, ring: np.ndarray) -> str:
    """Even-odd ray cast for ONE fixed ring, as SQL text.

    For each non-horizontal edge, an indicator of a rightward-ray
    crossing; inside = (Σ indicators) mod 2 == 1.  Arithmetic is the
    exact same IEEE op sequence as :func:`geometry.points_in_polygon`,
    so the two paths agree on every input including on-edge points.
    Polygons are static plan constants → the whole test stays inside
    whole-stage codegen (no Python, no broadcast-pickle).

    SQL text, not Column algebra: building this expression op-by-op
    costs ~2 py4j round trips per operator (~0.65 s of driver latency
    per plan build for the zone fixtures); one ``F.expr`` parse is a
    single round trip.
    """
    ring = np.asarray(ring, dtype=np.float64)
    terms: list[str] = []
    n = len(ring)
    for k in range(n):
        x1, y1 = float(ring[k][0]), float(ring[k][1])
        x2, y2 = float(ring[(k + 1) % n][0]), float(ring[(k + 1) % n][1])
        if y1 == y2:
            continue  # horizontal edge never toggles
        cond = (
            f"(({y1!r} > {lat}) <> ({y2!r} > {lat})) AND "
            f"({lon} < ({(x2 - x1)!r} * ({lat} - {y1!r}) / {(y2 - y1)!r} + {x1!r}))"
        )
        terms.append(f"(CASE WHEN {cond} THEN 1 ELSE 0 END)")
    if not terms:
        return "false"
    return f"((({' + '.join(terms)}) % 2) = 1)"


def pip_zone_sql(
    lat: str, lon: str, zone_col: str, zones: dict[str, list[np.ndarray]]
) -> str:
    """Dispatch :func:`pip_ring_sql` on a zone_id column (CASE chain).

    Even-odd composition over rings (XOR = ``<>``) for multipolygons.
    """
    branches = []
    for zid, rings in zones.items():
        inside = None
        for ring in rings:
            r = pip_ring_sql(lat, lon, ring)
            inside = r if inside is None else f"({inside} <> {r})"
        # SQL-escape the zone id literal: a quote in a caller-supplied
        # id must not break (or reshape) the generated expression
        zid_sql = str(zid).replace("'", "''")
        branches.append(f"WHEN {zone_col} = '{zid_sql}' THEN {inside}")
    assert branches
    return f"(CASE {' '.join(branches)} ELSE false END)"


def pip_zone_expr(
    lat: str, lon: str, zone_col: str, zones: dict[str, list[np.ndarray]]
) -> Column:
    """Catalyst Column form of :func:`pip_zone_sql` (args are SQL
    snippets, usually column names)."""
    return F.expr(pip_zone_sql(lat, lon, zone_col, zones))


def _total_vertices(zones: dict[str, list[np.ndarray]]) -> int:
    return sum(len(r) for rs in zones.values() for r in rs)


def join_zones(
    points: DataFrame,
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
    lat_col: str = "lat",
    lon_col: str = "lon",
    strategy: str = "auto",
    grain: str = "grid",
    hex_encode: str = "row",
) -> DataFrame:
    """Attach ``zone_id`` to every point row (inner join semantics).

    A point matching k zones yields k rows (zones may overlap, matching
    the reference's independent per-zone shape masks).  Points in no
    zone are dropped — the analog of nodata outside the mask.

    strategy:
      ``expr`` — compile the boundary-cell PIP into Catalyst (default
        when total polygon vertices ≤ 2048): ONE scan, zero Python,
        whole-stage codegen end to end.  The CASE short-circuits, so
        interior rows never evaluate a single edge test.
      ``udf``  — Arrow-vectorized PIP for big polygon sets; the plan
        splits interior (pure JVM) from the O(perimeter) boundary
        sliver, which alone crosses into Python.  Costs a second scan
        of the input (two union branches) — prefer ``expr`` whenever
        the polygon budget allows.

    ``grain="hex"`` keys the membership join on the aperture-7
    hexagonal index instead of the square grid: identical output rows
    (the cover's full/boundary contract is grain-independent — full
    cells prove membership, boundary cells fall through to the same
    exact PIP), different physical key.  The point-side encode is
    :func:`hexgrid.with_hex7_id`, Catalyst projections in the scan
    stage with no Python stage; the cover still broadcasts.  Its full
    cells are compacted, so each point probes its ancestor at every
    res the cover holds (bit truncation in the JVM, one row each) and
    the output's ``cell_hex{res}`` is the point's own id.  The JVM's
    trigonometry may differ from numpy's in the last ulp, so a point
    within an ulp of a cell edge may get the neighbouring id; it still
    lies in one of the zone's full or boundary cells (the cover's
    margin is at least a circumradius), and boundary rows keep the
    exact PIP test, so membership does not change.

    A point whose ``lat_col`` or ``lon_col`` is NULL, NaN or ±inf is
    in no zone, at both grains: it is dropped by the cover join.

    ``hex_encode`` is accepted for compatibility and ignored: both
    ``"row"`` and ``"dim"`` encode in one pass over the input.
    """
    zones = zones or ZONES
    if strategy == "auto":
        strategy = "expr" if _total_vertices(zones) <= 2048 else "udf"
    cover = zone_cover_df(spark, zones, res, grain=grain)
    if grain == "hex":
        from geodata_spark import hexgrid as HG

        # a point without a finite position has a NULL id: no match
        cell_col = f"cell_hex{res}"
        pts = HG.with_hex7_id(points, lat_col, lon_col, res, cell_col)
        with _COVER_LOCK:
            cover_ids = _cover_columns(zones, res, grain, cell_col)[cell_col]
        levels = np.unique(HG.hex7_res_np(cover_ids.to_numpy())).tolist()
    else:
        # A point without a finite position gets key -1, which no cover
        # row holds (cover ids are non-negative), so it matches no zone;
        # the encode would raise on NaN.  The key is then not nullable,
        # so the optimizer infers no isnotnull(key) filter to push below
        # the encode, which would evaluate it twice.
        cell_col = f"cell_r{res}"
        lat, lon = F.col(lat_col), F.col(lon_col)
        finite = (F.abs(lat) < F.lit(float("inf"))) & (F.abs(lon) < F.lit(float("inf")))
        cell = F.when(finite, cells.cell_expr(lat, lon, res))
        pts = points.withColumn(cell_col, F.coalesce(cell, F.lit(-1).cast("long")))
        levels = [res]
    if levels == [res]:
        joined = pts.join(F.broadcast(cover), cell_col)
    else:
        # compacted full cells: probe the point's ancestor at every res
        # the cover holds.  A point matches at most one compacted full
        # row per zone and boundary rows are res-``res`` only, so the
        # rows are those of the plain equi-join; the key column then
        # gets the point's own id back.
        probe = ", ".join(HG.hex7_parent_sql("_hex_id", r) for r in levels)
        pts = pts.withColumnRenamed(cell_col, "_hex_id").selectExpr(
            "*", f"explode(array({probe})) AS {cell_col}"
        )
        joined = (
            pts.join(F.broadcast(cover), cell_col)
            .withColumn(cell_col, F.col("_hex_id"))
            .drop("_hex_id")
        )

    if strategy == "expr":
        keep = F.expr(
            f"CASE WHEN NOT boundary THEN true "
            f"ELSE {pip_zone_sql(lat_col, lon_col, 'zone_id', zones)} END"
        )
        return joined.filter(keep).drop("boundary")

    pip = pip_udf(spark, zones)
    # Split interior/boundary BEFORE the UDF: a disjunction like
    # (~boundary) | pip(...) would evaluate the Python UDF for every
    # row (ExtractPythonUDFs hoists the UDF above the whole filter);
    # the union keeps the hot interior path 100% JVM-side and sends
    # only the boundary sliver to Python.
    interior = joined.filter(~F.col("boundary"))
    boundary = joined.filter(F.col("boundary")).filter(
        pip(F.col("zone_id"), F.col(lat_col), F.col(lon_col))
    )
    return interior.unionByName(boundary).drop("boundary")


def extract_zone_cells(
    spark: SparkSession,
    zones: dict[str, list[np.ndarray]] | None = None,
    res: int = 9,
    strategy: str = "auto",
) -> DataFrame:
    """Per-zone cell table — the discrete ``extract_shapes`` semi-join.

    Returns (zone_id, cell_r{res}, interior) where interior cells are
    wholly inside the zone.  Boundary cells are resolved by testing the
    cell *center*, matching rasterio's all_touched=False default in the
    reference's clip (``mask.py:682``).

    Uses the same strategy switch as :func:`join_zones`: zone sets up
    to 2048 total vertices compile the center PIP into Catalyst (zero
    Python anywhere in the plan); bigger sets fall back to the
    Arrow-vectorized UDF.  The cover table is small, so this is about
    plan consistency, not wall time.
    """
    zones = zones or ZONES
    if strategy == "auto":
        strategy = "expr" if _total_vertices(zones) <= 2048 else "udf"
    cover = zone_cover_df(spark, zones, res)
    cell_col = f"cell_r{res}"
    _, _, _, clat, clon = cells.decode_expr(F.col(cell_col))
    withc = cover.withColumn("_clat", clat).withColumn("_clon", clon)
    if strategy == "expr":
        keep = F.expr(
            f"CASE WHEN NOT boundary THEN true "
            f"ELSE {pip_zone_sql('_clat', '_clon', 'zone_id', zones)} END"
        )
    else:
        pip = pip_udf(spark, zones)
        keep = (~F.col("boundary")) | pip(
            F.col("zone_id"), F.col("_clat"), F.col("_clon")
        )
    return (
        withc.filter(keep)
        .select("zone_id", cell_col, (~F.col("boundary")).alias("interior"))
    )
