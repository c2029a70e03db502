"""Z-order layout: key twins (numpy + DuckDB dialect) and the
row-group pruning evidence — the at-rest locality story measured from
parquet metadata, not asserted."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from geodata_spark import layout


def _zkey_np(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Independent numpy twin of the generated SQL pipeline."""
    bits = layout.BITS

    def idx(v, lo, span):
        raw = np.floor((v - lo) / span * (1 << bits)).astype(np.int64)
        return np.clip(raw, 0, (1 << bits) - 1)

    def spread(x):
        for s, m in layout._SPREAD_STEPS:
            x = (x | (x << s)) & m
        return x

    return spread(idx(lon, -180.0, 360.0)) | (spread(idx(lat, -90.0, 180.0)) << 1)


def test_zorder_expr_matches_numpy_and_duckdb(spark):
    rng = np.random.default_rng(19)
    lat = rng.uniform(-89.99, 89.99, 512)
    lon = rng.uniform(-179.99, 179.99, 512)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], ["lat", "lon"]
    )
    got = [r[0] for r in df.select(layout.zorder_expr()).collect()]
    want = _zkey_np(lat, lon)
    assert got == list(want)

    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.register(
        "pts", __import__("pandas").DataFrame({"lat": lat, "lon": lon})
    )
    sql = layout.zorder_sql(dialect="duckdb")
    oracle = con.execute(f"SELECT {sql} FROM pts").fetchnumpy()
    assert list(oracle[list(oracle)[0]]) == list(want)


def test_zorder_locality_monotone_tiles():
    """Points inside one small tile span a tiny fraction of the key
    range points across the domain span — the property row-group
    envelopes inherit."""
    rng = np.random.default_rng(23)
    tile = _zkey_np(rng.uniform(40, 41, 2000), rng.uniform(10, 11, 2000))
    world = _zkey_np(rng.uniform(-89, 89, 2000), rng.uniform(-179, 179, 2000))
    tile_span = float(tile.max() - tile.min())
    world_span = float(world.max() - world.min())
    assert tile_span < world_span / 1000.0


def test_spatial_sorted_write_prunes_rowgroups(spark, tmp_path):
    """Same rows, two layouts, one bbox: the Z-ordered layout must
    answer from a small fraction of row groups while the shuffled
    layout touches (nearly) all of them; Spark reads both layouts to
    the identical filtered result."""
    from geodata_spark import spatial
    from geodata_spark.synth import synth_documents

    pts = (
        spatial.parse_geo_spans(synth_documents(spark, 4000))
        .select("lat", "lon", "val")
    )
    unsorted_p = str(tmp_path / "unsorted")
    sorted_p = str(tmp_path / "zsorted")
    # control: same data, key-agnostic row order (hash of val), same
    # tiny row groups so both layouts have comparable group counts
    (
        pts.repartition(4, F.col("val"))
        .write.mode("overwrite")
        .option("parquet.block.size", "16384")
        .parquet(unsorted_p)
    )
    layout.write_spatial_sorted(
        pts, sorted_p, num_files=4, block_bytes=16384
    )

    bbox_lat, bbox_lon = (20.0, 24.0), (74.0, 80.0)
    s_un = layout.rowgroup_prune_stats(unsorted_p, bbox_lat, bbox_lon)
    s_zs = layout.rowgroup_prune_stats(sorted_p, bbox_lat, bbox_lon)
    assert s_un["rows_total"] == s_zs["rows_total"]
    assert s_un["total"] >= 4 and s_zs["total"] >= 4, (s_un, s_zs)

    frac_un = s_un["rows_touched"] / s_un["rows_total"]
    frac_zs = s_zs["rows_touched"] / s_zs["rows_total"]
    # shuffled layout: every group spans the domain → ~all rows touched
    assert frac_un > 0.9, s_un
    # z-sorted: the bbox is a small key range → a small minority
    assert frac_zs < 0.5 * frac_un, (s_un, s_zs)

    cond = (
        (F.col("lat") >= bbox_lat[0]) & (F.col("lat") <= bbox_lat[1])
        & (F.col("lon") >= bbox_lon[0]) & (F.col("lon") <= bbox_lon[1])
    )
    a = sorted(map(tuple, spark.read.parquet(unsorted_p).filter(cond).collect()))
    b = sorted(map(tuple, spark.read.parquet(sorted_p).filter(cond).collect()))
    assert a == b and len(a) > 0
