"""Z-order (Morton) spatial layout — scan pruning at rest.

At 100 TB the cheapest filter is the one that never reads the bytes:
parquet keeps per-row-group min/max statistics for every column, and a
reader (Spark's parquet filter pushdown, or any engine's) skips a row
group whose [min, max] envelope misses the predicate.  Random row
order makes those envelopes useless — every row group spans the whole
domain, so a bounding-box filter still reads everything.  Interleaving
the bits of the lat/lon cell indices (the Morton / Z-order curve) and
range-partitioning + sorting the write by that single key makes BOTH
coordinates locally monotone per row group, so each group's lat/lon
envelope collapses to a small tile and a bbox filter prunes at the
metadata level — no index structure, no extra column reads, works for
any engine that honors parquet statistics.

The key derivation is generated ONCE as SQL text and rendered for two
dialects (Spark's ``shiftleft`` vs DuckDB's ``<<``), so the DuckDB
oracle evaluates the *same* mask pipeline — the Spark/oracle twin is a
single source of truth, the pattern `formulas.py` uses for physics.

Reference analog: the reference's per-month netCDF tree
(``src/geodata/dataset.py``, ``cutout.py:95``) orders data by time
only; spatial locality at rest has no counterpart there — this is the
Spark-native layout the north_star's catalog story needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# 16 bits per axis → 32-bit key: ~600 m cells at the equator, enough
# that row-group envelopes (not key precision) bound pruning.
BITS = 16

# classic power-of-two bit-spread: after step (s, m), the bits of x
# occupy every other position below 2*BITS
_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_sql(x: str, shift: str) -> str:
    """Bit-spread pipeline for one axis index, dialect-parameterized
    (``shift`` is a format string for the left-shift operation)."""
    for s, m in _SPREAD_STEPS:
        shifted = shift.format(x=x, n=s)
        x = f"(({x} | {shifted}) & {m})"
    return x


def _idx_sql(col: str, lo: float, span: float) -> str:
    """Axis value → BITS-bit cell index, clamped to the domain."""
    n = (1 << BITS) - 1
    raw = f"CAST(floor((({col}) - ({lo!r})) / {span!r} * {1 << BITS}) AS BIGINT)"
    return f"least(greatest({raw}, 0), {n})"


def zorder_sql(lat_col: str = "lat", lon_col: str = "lon",
               dialect: str = "spark") -> str:
    """SQL text for the Morton key — identical mask pipeline in both
    dialects; only the shift spelling differs."""
    shift = "shiftleft({x}, {n})" if dialect == "spark" else "(({x}) << {n})"
    lat_i = _spread_sql(_idx_sql(lat_col, -90.0, 180.0), shift)
    lon_i = _spread_sql(_idx_sql(lon_col, -180.0, 360.0), shift)
    two_lat = shift.format(x=lat_i, n=1)
    return f"({lon_i} | {two_lat})"


def zorder_expr(lat_col: str = "lat", lon_col: str = "lon"):
    """Catalyst column for the Morton key (whole-stage codegen; no
    Python, no UDF)."""
    return F.expr(zorder_sql(lat_col, lon_col, dialect="spark"))


def ztile_sql(lat_col: str = "lat", lon_col: str = "lon",
              coarse_bits: int = 18, dialect: str = "spark") -> str:
    """Coarse Morton tile id (key with the low ``coarse_bits`` dropped)
    — the bucketing grain a layout audit groups by.  Rendered from the
    same single-source key pipeline for both dialects."""
    z = zorder_sql(lat_col, lon_col, dialect)
    if dialect == "spark":
        return f"shiftright({z}, {coarse_bits})"
    return f"(({z}) >> {coarse_bits})"


def write_spatial_sorted(
    df: DataFrame,
    path: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    num_files: int = 8,
    block_bytes: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve.

    ``repartitionByRange`` on the key gives each output file a compact,
    non-overlapping key range (sampled range boundaries — one extra
    pass over the key column only); ``sortWithinPartitions`` then
    orders rows inside each file so every ROW GROUP's lat/lon min/max
    envelope is a small tile.  The key column itself is dropped before
    the write — pruning runs on the lat/lon statistics, so readers
    need no knowledge of the curve.

    At 100 TB: pick ``num_files`` so files land near the row-group/
    HDFS-block sweet spot (128-512 MB); the range exchange is the only
    shuffle and AQE coalesces empty ranges.
    """
    z = zorder_expr(lat_col, lon_col)
    out = df.withColumn("_zkey", z)
    w = (
        out.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
    )
    if block_bytes:
        w = w.option("parquet.block.size", str(block_bytes))
    w.parquet(path)


def _parquet_files(path: str) -> list[str]:
    """Every parquet data file under ``path``, recursively — a
    Hive-partitioned tree (``day=1/part-*.parquet``) keeps its files
    below subdirectories, so a top-level glob would see none of them
    and size estimates would silently collapse to zero."""
    import glob
    import os

    if not os.path.isdir(path):
        return [path]
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def rowgroup_prune_stats(
    path: str,
    lat_range: tuple[float, float],
    lon_range: tuple[float, float],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> dict:
    """Count parquet row groups a bbox filter must touch, from file
    metadata ONLY (the same min/max statistics any pushdown reader
    uses) — the measurable evidence that a layout prunes.

    Returns {touched, total, rows_touched, rows_total}.
    """
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    touched = total = rows_touched = rows_total = 0
    (lat_lo, lat_hi), (lon_lo, lon_hi) = lat_range, lon_range
    for f in files:
        md = pq.ParquetFile(f).metadata
        schema_names = [md.schema.column(c).name for c in range(md.num_columns)]
        li, lo_ = schema_names.index(lat_col), schema_names.index(lon_col)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += 1
            rows_total += rg.num_rows
            slat, slon = rg.column(li).statistics, rg.column(lo_).statistics
            if (
                slat is None or slon is None
                or not slat.has_min_max or not slon.has_min_max
            ):
                touched += 1  # no usable stats (e.g. all-NULL) → must read
                rows_touched += rg.num_rows
                continue
            hit = not (
                slat.max < lat_lo or slat.min > lat_hi
                or slon.max < lon_lo or slon.min > lon_hi
            )
            if hit:
                touched += 1
                rows_touched += rg.num_rows
    return {
        "touched": touched,
        "total": total,
        "rows_touched": rows_touched,
        "rows_total": rows_total,
    }
