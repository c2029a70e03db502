"""kNN grid-cell neighbor lookup (J5/W2) — nearest regrid & interpolation.

The reference's nearest-neighbor regrid is
``reindex(..., method='nearest')`` (``src/geodata/preparation.py:380-385``,
``cutout.py:1001``); the north_star generalizes it to k>1 neighbors for
interpolation.

Spark plan: candidate generation by **cell-neighborhood equi-join**
(each target point joins source points in its own and the 8 adjacent
cells at a resolution chosen so the true k nearest are inside that
ring), then a ``row_number() OVER (PARTITION BY target ORDER BY
distance)`` ranking window keeps k.  No cross join: candidate count
per target is O(density × 9 cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geodata_spark import cells
from geodata_spark.sqltext import ident, lit


def _with_neighbor_cells(df: DataFrame, res: int, lat_col: str, lon_col: str,
                         ring: int = 1) -> DataFrame:
    """Explode each row into its cell + the ``(2·ring+1)²-1``
    surrounding cells at ``res``.  Cell edges are dyadic and the
    offsets are exact multiples of the edge, so offset ``dy`` lands
    exactly ``dy`` rows away — ring ``ceil(r/edge)`` provably covers
    every point within planar radius ``r``."""
    e = cells.EDGE_DEG[res]
    rng = range(-ring, ring + 1)
    lat, lon = ident(lat_col), ident(lon_col)
    ids = ", ".join(
        cells.cell_sql(f"({lat} + {lit(dy * e)})", f"({lon} + {lit(dx * e)})", res)
        for dy in rng for dx in rng
    )
    # array_distinct: at domain edges several ring offsets clamp to the
    # same cell id; deduping the array here (free, in codegen) means a
    # source row can match a target at most once — no post-join
    # dropDuplicates shuffle needed.
    return df.withColumn("_nbr_cell", F.expr(f"explode(array_distinct(array({ids})))"))


def _with_hex_disk(df: DataFrame, res: int, ring: int, lat_col: str, lon_col: str) -> DataFrame:
    """Hex-grain target candidates: explode the ring-``ring`` disk of
    the row's cell in its OWN argmax-face lattice (pure integer
    algebra — hexgrid.hex7_local_disk_np)."""
    from geodata_spark import hexgrid as HG

    disk = HG.hex7_local_disk_udf(res, ring)(F.col(lat_col), F.col(lon_col))
    return df.withColumn("_nbr_cell", F.explode(F.array_distinct(disk)))


def knn_join(
    targets: DataFrame,
    sources: DataFrame,
    k: int = 1,
    res: int = 7,
    t_lat: str = "lat",
    t_lon: str = "lon",
    s_lat: str = "lat",
    s_lon: str = "lon",
    target_key: list[str] | None = None,
    grain: str = "grid",
    hex_ring: int = 2,
    hex_margin_rad: float = 0.035,
) -> DataFrame:
    """k nearest source points per target row.

    ``res`` must satisfy: cell edge ≥ max distance to the k-th
    neighbor (for gridded sources, edge ≥ k·grid_step is safe) — then
    the 3×3 cell ring provably contains the k nearest.  Output keeps
    every target column, plus source columns suffixed ``_src``, plus
    ``knn_rank`` (1-based) and ``knn_dist2``.

    ``grain="hex"`` runs the same join on the aperture-7 hexagonal
    index (the north_star's H3 grain): targets explode their
    ``hex_ring``-disk in their own face's unbroken lattice, sources
    emit their cell under every face within ``hex_margin_rad`` of
    their best face (hexgrid.hex7_local_cells_udf) — the face-local
    keying that stays provably complete across icosahedron edges,
    where canonical tokens split cells.  Requirements: disk coverage
    ``hex_ring·(√3/2)·res-pitch ≥`` max k-th-neighbor distance (×
    gnomonic distortion ≤1.6), and ``hex_margin_rad ≥ 2×`` that
    distance in radians.  Source amplification is ~1.1 keys/row
    (edge bands only); candidate volume stays O(density × disk).

    Correct-at-scale shape: both sides shuffle on the neighborhood
    cell id (equi-join), the window partitions by target key — the
    only O(k) amplification is the candidate explode on the
    (smaller) target side.
    """
    target_key = target_key or [t_lat, t_lon]
    if grain == "hex":
        from geodata_spark import hexgrid as HG

        t = _with_hex_disk(targets, res, hex_ring, t_lat, t_lon)
        skeys = HG.hex7_local_cells_udf(res, hex_margin_rad)(
            F.col(s_lat), F.col(s_lon)
        )
        s = sources.withColumn("_nbr_cell", F.explode(skeys))
    else:
        t = _with_neighbor_cells(targets, res, t_lat, t_lon)
        s = sources.withColumn("_nbr_cell", F.expr(cells.cell_sql(ident(s_lat), ident(s_lon), res)))
    # rename source cols to avoid collisions
    for c in sources.columns:
        s = s.withColumnRenamed(c, f"{c}_src")
    s = s.withColumnRenamed("_nbr_cell_src", "_nbr_cell")
    # ring cells are distinct (array_distinct above) and each source row
    # carries exactly one cell id, so a (target, source) pair joins at
    # most once — no dedupe shuffle, and distinct source rows sharing
    # coordinates all survive to the ranking window.
    joined = t.join(s, "_nbr_cell").drop("_nbr_cell")
    dy = F.col(t_lat) - F.col(f"{s_lat}_src")
    dx = F.col(t_lon) - F.col(f"{s_lon}_src")
    dist2 = (dy * dy + dx * dx).alias("knn_dist2")
    joined = joined.withColumn("knn_dist2", dist2)
    w = Window.partitionBy(*[F.col(c) for c in target_key]).orderBy(
        F.col("knn_dist2").asc(),
        F.col(f"{s_lat}_src").asc(),
        F.col(f"{s_lon}_src").asc(),  # deterministic tie-break
    )
    return (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def nearest_regrid(
    targets: DataFrame,
    sources: DataFrame,
    value_cols: list[str],
    res: int = 7,
    **kw,
) -> DataFrame:
    """reindex(method='nearest') — k=1 kNN keeping target geometry."""
    out = knn_join(targets, sources, k=1, res=res, **kw)
    keep = [c for c in targets.columns] + [
        F.col(f"{c}_src").alias(c) for c in value_cols
    ]
    return out.select(*keep)


def idw_interpolate(
    targets: DataFrame,
    sources: DataFrame,
    value_col: str,
    k: int = 4,
    res: int = 7,
    eps: float = 1e-12,
    out: str = "idw_value",
    **kw,
) -> DataFrame:
    """Inverse-distance-weighted interpolation over the k nearest.

    The k>1 generalization the north_star asks for: weights 1/(d²+ε),
    exact hit (d²<ε) dominates via the ε floor.
    """
    target_key = kw.get("target_key") or [kw.get("t_lat", "lat"), kw.get("t_lon", "lon")]
    nn = knn_join(targets, sources, k=k, res=res, **kw)
    w = 1.0 / (F.col("knn_dist2") + F.lit(eps))
    return (
        nn.groupBy(*target_key)
        .agg(
            (F.sum(F.col(f"{value_col}_src") * w) / F.sum(w)).alias(out),
            F.count(F.lit(1)).alias("knn_used"),
        )
    )


def radius_join(
    targets: DataFrame,
    sources: DataFrame,
    radius_deg: float,
    res: int = 7,
    t_lat: str = "lat",
    t_lon: str = "lon",
    s_lat: str = "lat",
    s_lon: str = "lon",
) -> DataFrame:
    """All source points within planar radius of each target — the
    range-query sibling of :func:`knn_join` (same metric: squared
    degree distance, dyadic-exact so the boundary predicate is
    bit-identical across engines).

    Candidate generation is the same cell-neighborhood equi-join, with
    the ring width derived from the radius (``ceil(r/edge)``) instead
    of fixed at 1 — candidate volume is O(density × π r²), never a
    cross join, and both sides shuffle only on the cell id.  At 100 TB
    pick ``res`` so the ring stays small (edge ≳ radius ⇒ ring 1).

    Output: every (target, source) pair with ``dist2 ≤ radius²``,
    target columns first, source columns suffixed ``_src``.
    """
    import math

    ring = max(1, math.ceil(radius_deg / cells.EDGE_DEG[res]))
    t = _with_neighbor_cells(targets, res, t_lat, t_lon, ring=ring)
    s = sources.withColumn("_nbr_cell", F.expr(cells.cell_sql(ident(s_lat), ident(s_lon), res)))
    for c in sources.columns:
        s = s.withColumnRenamed(c, f"{c}_src")
    s = s.withColumnRenamed("_nbr_cell_src", "_nbr_cell")
    joined = t.join(s, "_nbr_cell").drop("_nbr_cell")
    dy = F.col(t_lat) - F.col(f"{s_lat}_src")
    dx = F.col(t_lon) - F.col(f"{s_lon}_src")
    return joined.withColumn("dist2", dy * dy + dx * dx).filter(
        F.col("dist2") <= F.lit(radius_deg * radius_deg)
    )


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in km as engine-neutral SQL text (one
    string feeds both Catalyst ``F.expr`` and the DuckDB oracle — the
    formulas.py pattern).  ``pow`` is avoided (an extra libm call):
    squares are spelled as products; ``least(1.0, …)`` guards the asin
    domain against rounding at antipodal inputs.  sin/cos/asin are
    libm, the one cross-engine ULP source — callers round the result
    (6 dp) before comparing or filtering, like the spherical
    cell-area oracle."""
    from geodata_spark.zonal import EARTH_R_KM

    sy = f"sin(radians(({lat2}) - ({lat1})) / 2)"
    sx = f"sin(radians(({lon2}) - ({lon1})) / 2)"
    h = (f"{sy} * {sy} + cos(radians({lat1})) * cos(radians({lat2}))"
         f" * {sx} * {sx}")
    return f"2.0 * {EARTH_R_KM!r} * asin(sqrt(least(1.0, {h})))"


def radius_join_gc(
    targets: DataFrame,
    sources: DataFrame,
    radius_km: float,
    res: int = 7,
    max_abs_lat: float = 60.0,
    t_lat: str = "lat",
    t_lon: str = "lon",
    s_lat: str = "lat",
    s_lon: str = "lon",
) -> DataFrame:
    """Great-circle (haversine) radius query: every source within
    ``radius_km`` of each target on the sphere — the geodesic sibling
    of :func:`radius_join` (reference buffers masks in km,
    mask.py:557-575; here the metric is exact geodesic distance, not
    planar degrees).

    Two stages: (1) the planar ring-cell equi-join as a SUPERSET
    prefilter.  Longitude degrees shrink by cos(lat), so a true
    ``radius_km`` hit due east/west spans up to θ/cos(lat) planar
    degrees — the prefilter radius is therefore
    θ_deg / cos(max_abs_lat) · 1.05, where ``max_abs_lat`` bounds the
    latitudes present (pass the data's actual bound to tighten the
    ring; the 5% margin covers the ≤ p²/24 sphere-vs-plane curvature
    excess at continental radii).  No true hit is pruned; false
    candidates are removed by (2) the exact haversine refine, rounded
    to 6 dp, with the radius filter applied to the ROUNDED distance so
    both engines make identical boundary decisions.  Candidate volume
    stays O(density·πr²/cos) — never a cross join — and only cell-id
    keys shuffle.
    """
    import math

    from geodata_spark.zonal import EARTH_R_KM

    radius_deg = (
        math.degrees(radius_km / EARTH_R_KM)
        / math.cos(math.radians(max_abs_lat)) * 1.05
    )
    pairs = radius_join(
        targets, sources, radius_deg, res=res,
        t_lat=t_lat, t_lon=t_lon, s_lat=s_lat, s_lon=s_lon,
    ).drop("dist2")
    d = haversine_km_sql(t_lat, t_lon, f"{s_lat}_src", f"{s_lon}_src")
    return pairs.withColumn("dist_km_r6", F.round(F.expr(d), 6)).filter(
        F.col("dist_km_r6") <= F.lit(float(radius_km))
    )


def knn_join_gc(
    targets: DataFrame,
    sources: DataFrame,
    k: int,
    max_radius_km: float,
    res: int = 7,
    max_abs_lat: float = 60.0,
    t_lat: str = "lat",
    t_lon: str = "lon",
    s_lat: str = "lat",
    s_lon: str = "lon",
    extra_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Bounded geodesic kNN: the k nearest sources by GREAT-CIRCLE
    distance within ``max_radius_km`` of each target — the km-metric
    sibling of :func:`knn_join` (same contract as bounded/radius-
    limited kNN in ANN systems: neighbors beyond the radius are out of
    scope by definition, which is what keeps the candidate ring — and
    therefore the shuffle — bounded at planet scale).

    Candidates come from :func:`radius_join_gc` (cos(lat)-widened ring
    equi-join + exact haversine refine on the 6-dp-rounded distance);
    ranking is a per-target window over those candidates only, with a
    deterministic (distance, lat, lon, *extra_tiebreak) tie-break —
    pass ``extra_tiebreak`` columns when several sources can share
    coordinates, so the order is TOTAL and the cut at rank k is
    reproducible.
    """
    pairs = radius_join_gc(
        targets, sources, max_radius_km, res=res, max_abs_lat=max_abs_lat,
        t_lat=t_lat, t_lon=t_lon, s_lat=s_lat, s_lon=s_lon,
    )
    w = Window.partitionBy(t_lat, t_lon).orderBy(
        F.col("dist_km_r6").asc(),
        F.col(f"{s_lat}_src").asc(),
        F.col(f"{s_lon}_src").asc(),
        *[F.col(c).asc() for c in (extra_tiebreak or [])],
    )
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
    )


def bilinear_regrid(
    targets: DataFrame,
    sources: DataFrame,
    value_cols: list[str],
    lat0: float,
    dlat: float,
    lon0: float,
    dlon: float,
    ny: int,
    nx: int,
    t_lat: str = "lat",
    t_lon: str = "lon",
    s_lat: str = "lat",
    s_lon: str = "lon",
) -> DataFrame:
    """Bilinear interpolation from a REGULAR grid to arbitrary points —
    the ``interp``-style regrid the reference explicitly falls back
    FROM ("Next-neighbour interpolation will be used instead!",
    ``src/geodata/preparation.py:376``): the higher-order path its
    xarray remap warns it lacks, which :func:`nearest_regrid`
    (reindex nearest) does not express.

    Spark shape: the 4 surrounding corner indices and their weights
    ``(1∓ty)(1∓tx)`` are computed on the (small) target side and
    exploded — 4 rows per target — then a plain equi-join on the
    integer grid index pulls the corner values; a groupBy on the
    target key sums ``w·value``.  The big gridded side never shuffles
    on anything but its own (yi, xi) key and never explodes.  Corner
    indices clamp to the grid interior, so edge targets degrade to
    linear/nearest instead of dropping.

    Exactness: with dyadic grid spacing and dyadic target coords every
    weight is a short dyadic rational, so sums are order-independent
    and the DuckDB oracle matches bit-for-bit — no tolerance.
    """
    fy = (F.col(t_lat) - F.lit(lat0)) / F.lit(dlat)
    fx = (F.col(t_lon) - F.lit(lon0)) / F.lit(dlon)
    i0 = F.least(F.greatest(F.floor(fy), F.lit(0)), F.lit(ny - 2)).cast("long")
    j0 = F.least(F.greatest(F.floor(fx), F.lit(0)), F.lit(nx - 2)).cast("long")
    ty = fy - i0
    tx = fx - j0
    corner = F.array(
        *[
            F.struct(
                (i0 + F.lit(dy)).alias("yi"),
                (j0 + F.lit(dx)).alias("xi"),
                (
                    (ty if dy else (F.lit(1.0) - ty))
                    * (tx if dx else (F.lit(1.0) - tx))
                ).alias("w"),
            )
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )
    t = (
        targets.withColumn("_c", F.explode(corner))
        .select("*", "_c.yi", "_c.xi", "_c.w")
        .drop("_c")
        .filter(F.col("w") != 0.0)  # exact: dyadic weights
    )
    # round, not a truncating cast: with non-dyadic spacing
    # (lat-lat0)/dlat can land at k-ulp (e.g. 2.9999999999999996 for
    # dlat=0.1) and truncation would file the whole grid row under the
    # wrong index; grid points are nearest-integer by construction,
    # and the oracle twin uses round() too
    s = sources.select(
        F.round((F.col(s_lat) - F.lit(lat0)) / F.lit(dlat)).cast("long").alias("yi"),
        F.round((F.col(s_lon) - F.lit(lon0)) / F.lit(dlon)).cast("long").alias("xi"),
        *value_cols,
    )
    joined = t.join(s, ["yi", "xi"])
    aggs = [F.sum(F.col("w") * F.col(c)).alias(f"{c}_bl") for c in value_cols]
    return joined.groupBy(t_lat, t_lon).agg(
        *aggs, F.sum("w").alias("w_sum"), F.count(F.lit(1)).alias("n_corners")
    )
