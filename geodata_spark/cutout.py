"""Cutout — the prepared spatiotemporal table and its operators.

The reference ``Cutout`` is a directory of per-(year,month) NetCDF
files with dims (time, y, x) (``src/geodata/cutout.py:67-216``).  Here
a cutout IS a long DataFrame ``(ts|hour, lat, lon, vars…)`` — usually
a partitioned parquet/Iceberg table — and the cutout operators are
relational:

- spatial **coarsen** (block aggregation, ``cutout.py:929-1001``):
  groupBy on integer block indices (the discrete analog of
  xr.coarsen with phase alignment);
- **temporal resample** (``cutout.py:622``, ``plot.py:123-131``):
  tumbling-window groupBy (date_trunc / window);
- **grid area** (``cutout.py:394-438, 1004-1033``): closed-form
  spherical band area, a deterministic function of lat (no join);
- **grid_cells** (``cutout.py:340-344``): cell polygon corners from
  the cell id — pure arithmetic;
- conversions (wind/pv/…): delegated to :mod:`geodata_spark.convert`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geodata_spark import convert as conv
from geodata_spark import zonal
from geodata_spark.manifest import read_parquet
from geodata_spark.synth import DLAT, DLON, LAT0, LON0


def coarsen(
    df: DataFrame,
    ky: int,
    kx: int,
    func: str = "mean",
    lat0: float = LAT0,
    dlat: float = DLAT,
    lon0: float = LON0,
    dlon: float = DLON,
    value_cols: list[str] | None = None,
    time_col: str | None = "hour",
) -> DataFrame:
    """Block-aggregate a ky×kx group of cells into one coarse cell.

    Semantics of ``xr.coarsen(lat=ky, lon=kx).mean()/.sum()``
    (reference ``cutout.py:952-1001``): output coordinates are the
    mean of the member coordinates (trim boundary = full blocks only
    when the extent divides evenly; ragged edge blocks aggregate
    whatever members exist, like boundary='pad' with NaN-skipping
    mean).  One hash aggregation; map-side partial combine.
    """
    value_cols = value_cols or [
        c for c in df.columns if c not in ("ts", "hour", "lat", "lon", "year", "month")
    ]
    fn = {"mean": F.avg, "sum": F.sum}[func]
    yb = F.floor((F.col("lat") - F.lit(lat0)) / F.lit(dlat) / F.lit(ky)).alias("_yb")
    xb = F.floor((F.col("lon") - F.lit(lon0)) / F.lit(dlon) / F.lit(kx)).alias("_xb")
    keys = ["_yb", "_xb"] + ([time_col] if time_col else [])
    aggs = [F.avg("lat").alias("lat"), F.avg("lon").alias("lon")] + [
        fn(c).alias(c) for c in value_cols
    ]
    return df.withColumn("_yb", yb).withColumn("_xb", xb).groupBy(*keys).agg(*aggs).drop(
        "_yb", "_xb"
    )


def resample_time(
    df: DataFrame,
    every_hours: int = 24,
    func: str = "mean",
    value_cols: list[str] | None = None,
    hour_col: str = "hour",
) -> DataFrame:
    """Tumbling-window temporal aggregation (A4).

    ``resample(time='1D').mean()`` == bucket by hour//24.  With a real
    timestamp column use ``F.window(ts, '1 day')`` — the integer form
    keeps oracle queries exact.
    """
    value_cols = value_cols or [
        c for c in df.columns if c not in ("ts", "hour", "lat", "lon", "year", "month")
    ]
    fn = {"mean": F.avg, "sum": F.sum}[func]
    bucket = (F.col(hour_col) / F.lit(every_hours)).cast("long").alias("bucket")
    return (
        df.withColumn("bucket", bucket)
        .groupBy("bucket", "lat", "lon")
        .agg(*[fn(c).alias(c) for c in value_cols])
    )


def climatology_anomaly(
    df: DataFrame,
    value_col: str,
    period_hours: int = 24,
    hour_col: str = "hour",
    keys: tuple[str, ...] = ("lat", "lon"),
) -> DataFrame:
    """Per-cell climatology and anomaly (deseasonalization).

    Climatology = mean of ``value_col`` over all rows sharing the same
    phase (``hour % period_hours``) in each cell; anomaly = value −
    climatology.  The weather-data normalization step (remove the
    diurnal cycle with period 24, the annual cycle with period 8760)
    the reference's users apply before trend fitting; the engine's
    per-cell regression (model.fit_loglinear) composes downstream.

    Spark shape: ONE window aggregate partitioned by (keys, phase) —
    no self-join, a single hash shuffle on the partition key, and the
    anomaly subtraction stays in the same stage.  Cardinality of the
    partition key is cells × period, uniform by construction — no
    skew, no salting needed.
    """
    phase = (F.col(hour_col) % F.lit(period_hours)).alias("phase")
    out = df.withColumn("phase", phase)
    w = Window.partitionBy(*keys, "phase")
    clim = F.avg(value_col).over(w)
    return out.withColumn(f"{value_col}_clim", clim).withColumn(
        f"{value_col}_anom", F.col(value_col) - F.col(f"{value_col}_clim")
    )


def conservative_regrid(
    df: DataFrame,
    dt_lat: float,
    dt_lon: float,
    value_cols: list[str] | None = None,
    lat0: float = LAT0,
    dlat: float = DLAT,
    lon0: float = LON0,
    dlon: float = DLON,
    unit: float = 0.0625,
    time_col: str | None = "hour",
) -> DataFrame:
    """Area-weighted (first-order conservative) regrid to a coarser
    grid whose spacing need NOT be an integer multiple of the source —
    the CDO ``remapcon`` / ESMF conservative analog of :func:`coarsen`
    (reference coarsen, cutout.py:929-1001, is the integer-factor
    special case; this generalizes it to e.g. 0.5° → 0.75°).

    Each source cell [lo, hi) is split over the ≤2 target cells it
    overlaps per axis; the output value is the overlap-area-weighted
    mean.  ALL boundary arithmetic runs in INTEGER units of ``unit``
    degrees (both spacings must be exact multiples), so overlap
    weights are exact integers and — with dyadic cell values — the
    weighted mean's only rounding is its final division: the oracle is
    bit-exact, no tolerance.  (Plane-grid area weighting: the weights
    are deg² overlaps; combine with :func:`zonal.grid_area_expr` for
    spherical weighting — orthogonal to the splitting logic proven
    here.)

    Scale shape: the target indices and weights are computed SCAN-SIDE
    per source row (a ≤4-row explode, no join — contrast
    knn.bilinear_regrid which joins corner indices); the single
    shuffle is the final hash agg on (time, jy, jx), map-side
    partial-combined.  At 100 TB the fan-out is a constant ≤4× and the
    output is smaller than the input by the coarsening ratio.
    """
    value_cols = value_cols or [
        c for c in df.columns if c not in ("ts", "hour", "lat", "lon", "year", "month")
    ]
    sy, ty = round(dlat / unit), round(dt_lat / unit)
    sx, tx = round(dlon / unit), round(dt_lon / unit)
    for name, units, deg in (
        ("dlat", sy, dlat), ("dt_lat", ty, dt_lat),
        ("dlon", sx, dlon), ("dt_lon", tx, dt_lon),
    ):
        if units * unit != deg:
            raise ValueError(f"{name}={deg} is not a multiple of unit={unit}")
    # source cell edges in integer units, origin at the grid's lower edge
    iy = F.round((F.col("lat") - F.lit(lat0)) / F.lit(dlat)).cast("long")
    ix = F.round((F.col("lon") - F.lit(lon0)) / F.lit(dlon)).cast("long")
    d = df.withColumn("_ylo", iy * sy).withColumn("_xlo", ix * sx)
    # overlapped target range per axis: floor(lo/t) .. floor((hi-1)/t)
    # (half-open cells ⇒ every index in range has overlap ≥ 1 unit).
    # FLOOR division, not `div` (which truncates toward zero): a grid
    # origin above the data's minimum produces negative edges, and
    # truncation would zero their weights and break conservation.
    def fdiv(expr: str, den: int) -> "F.Column":
        return F.expr(f"(({expr}) - pmod(({expr}), {den})) div {den}")

    d = d.withColumn(
        "_jy", F.explode(F.sequence(
            fdiv("_ylo", ty), fdiv(f"_ylo + {sy - 1}", ty)
        ))
    ).withColumn(
        "_jx", F.explode(F.sequence(
            fdiv("_xlo", tx), fdiv(f"_xlo + {sx - 1}", tx)
        ))
    )
    wy = F.least(F.col("_ylo") + sy, (F.col("_jy") + 1) * ty) - F.greatest(
        F.col("_ylo"), F.col("_jy") * ty
    )
    wx = F.least(F.col("_xlo") + sx, (F.col("_jx") + 1) * tx) - F.greatest(
        F.col("_xlo"), F.col("_jx") * tx
    )
    d = d.withColumn("_w", (wy * wx).cast("double"))
    keys = ([time_col] if time_col else []) + ["_jy", "_jx"]
    agg = d.groupBy(*keys).agg(
        F.sum("_w").alias("_wsum"),
        *[F.sum(F.col("_w") * F.col(c)).alias(f"_s_{c}") for c in value_cols],
    )
    glat0, glon0 = lat0 - dlat / 2.0, lon0 - dlon / 2.0
    out_cols = ([time_col] if time_col else []) + [
        F.col("_jy").alias("jy"),
        F.col("_jx").alias("jx"),
        (F.lit(glat0) + (F.col("_jy").cast("double") + 0.5) * F.lit(dt_lat)).alias("lat"),
        (F.lit(glon0) + (F.col("_jx").cast("double") + 0.5) * F.lit(dt_lon)).alias("lon"),
        F.col("_wsum").alias("w_units"),
        *[(F.col(f"_s_{c}") / F.col("_wsum")).alias(c) for c in value_cols],
    ]
    return agg.select(*out_cols)


@dataclass
class Cutout:
    """Facade bundling the cutout table with grid geometry.

    API parity with the reference's user surface::

        co = Cutout(df)
        co.wind(turbine=convert.TURBINE_SUZLON_S82, from_height=100)
        co.pv(panel=convert.PANEL_KANEKA, orientation='latitude_optimal')
        co.coarsen(2, 2).heat_demand()
    """

    df: DataFrame
    lat0: float = LAT0
    dlat: float = DLAT
    lon0: float = LON0
    dlon: float = DLON
    meta: dict = field(default_factory=dict)

    # conversions (each returns a DataFrame with the result column)
    def temperature(self, **kw) -> DataFrame:
        return conv.temperature(self.df, **kw)

    def soil_temperature(self, **kw) -> DataFrame:
        return conv.soil_temperature(self.df, **kw)

    def heat_demand(self, **kw) -> DataFrame:
        return conv.heat_demand(self.df, **kw)

    def wind(self, turbine: dict, **kw) -> DataFrame:
        return conv.wind(self.df, turbine, **kw)

    def windspd(self, hub_height: float, **kw) -> DataFrame:
        return conv.windspd(self.df, hub_height, **kw)

    def windwpd(self, hub_height: float, **kw) -> DataFrame:
        return conv.windwpd(self.df, hub_height, **kw)

    def pv(self, panel: dict, **kw) -> DataFrame:
        return conv.pv(self.df, panel, **kw)

    def solar_thermal(self, **kw) -> DataFrame:
        return conv.solar_thermal(self.df, **kw)

    def pm25(self, **kw) -> DataFrame:
        return conv.pm25(self.df, **kw)

    def get_var(self, var: str) -> DataFrame:
        return conv.get_var(self.df, var)

    def compute_var(self, fn, schema=None) -> DataFrame:
        return conv.compute_var(self.df, fn, schema)

    # structure ops
    def coarsen(self, ky: int, kx: int, func: str = "mean", **kw) -> "Cutout":
        out = coarsen(
            self.df, ky, kx, func,
            lat0=self.lat0, dlat=self.dlat, lon0=self.lon0, dlon=self.dlon, **kw,
        )
        return Cutout(out, self.lat0, self.dlat * ky, self.lon0, self.dlon * kx, self.meta)

    def resample_time(self, every_hours: int = 24, func: str = "mean", **kw) -> "Cutout":
        return Cutout(
            resample_time(self.df, every_hours, func, **kw),
            self.lat0, self.dlat, self.lon0, self.dlon, self.meta,
        )

    def with_grid_area(self, out: str = "area_km2") -> "Cutout":
        """A2 — per-cell spherical area column (cutout.py:394-438)."""
        return Cutout(
            self.df.withColumn(out, zonal.grid_area_expr(F.col("lat"), self.dlat, self.dlon)),
            self.lat0, self.dlat, self.lon0, self.dlon, self.meta,
        )

    def grid_cells(self) -> DataFrame:
        """Cell corner polygons (cutout.py:340-344): box(center ± span/2)."""
        h_lat, h_lon = self.dlat / 2.0, self.dlon / 2.0
        return self.df.select("lat", "lon").distinct().select(
            "lat",
            "lon",
            (F.col("lat") - h_lat).alias("lat_min"),
            (F.col("lat") + h_lat).alias("lat_max"),
            (F.col("lon") - h_lon).alias("lon_min"),
            (F.col("lon") + h_lon).alias("lon_max"),
        )

    # persistence (S9): partitioned parquet — the deployment target is
    # an Iceberg table with hidden partitioning months(ts)
    def write(self, path: str, partition_by: tuple[str, ...] = ()) -> None:
        w = self.df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    @staticmethod
    def read(spark, path: str, **geom) -> "Cutout":
        return Cutout(read_parquet(spark, path), **geom)
