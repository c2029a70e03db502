"""NetCDF on-ramp: the xarray gate, the cube→long-table bridge, and
the ERA5/MERRA2 rename/derive semantics (reference era5.py:392-453,
merra2.py:208-240) validated against a numpy twin."""

from __future__ import annotations

import numpy as np
import pytest


def _fake_cube(nt=4, ny=3, nx=5, seed=11):
    rng = np.random.default_rng(seed)
    coords = {
        "ts": np.arange(nt).astype("datetime64[h]"),
        "lat": 40.0 + 0.25 * np.arange(ny),
        "lon": -10.0 + 0.25 * np.arange(nx),
    }
    shape = (nt, ny, nx)
    cubes = {
        "ssrd": rng.uniform(0, 3.6e6, shape),
        "ssr": None,  # filled below: ssr <= ssrd (physical)
        "fdir": rng.uniform(0, 2.0e6, shape),
        "tisr": rng.uniform(0, 4.0e6, shape),
        "ro": rng.uniform(-1e-4, 1e-3, shape),  # negatives exist pre-clip
        "t2m": rng.uniform(250, 310, shape),
        "sp": rng.uniform(9e4, 1.05e5, shape),
        "stl4": rng.uniform(260, 300, shape),
        "fsr": rng.uniform(0.01, 1.5, shape),
        "u100": rng.uniform(-20, 20, shape),
        "v100": rng.uniform(-20, 20, shape),
    }
    cubes["ssr"] = cubes["ssrd"] * rng.uniform(0, 1, shape)
    cubes["ssrd"][0, 0, 0] = 0.0  # zero-irradiance night cell
    cubes["ssr"][0, 0, 0] = 0.0
    return coords, cubes


def test_read_netcdf_gate_raises_without_xarray(spark, tmp_path):
    """The xarray gate now guards ONLY NetCDF-4/HDF5 containers;
    classic files take the in-repo pure-Python path (no gate)."""
    from geodata_spark import sources

    try:
        import xarray  # noqa: F401

        pytest.skip("xarray present: gate untestable, loader itself active")
    except ImportError:
        pass
    h5 = tmp_path / "era5_2011_01.nc"
    h5.write_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(NotImplementedError, match="xarray"):
        sources.read_netcdf(spark, str(h5))


def _write_era5_fixture(path, nt=4, ny=3, nx=5, descending_lat=False):
    """Byte-valid classic-NetCDF ERA5-like month via the in-repo
    writer: record time dim, CF time units, full ERA5 variable set."""
    from tests.nc3_writer import write_nc3

    coords, cubes = _fake_cube(nt, ny, nx)
    hours = np.arange(nt, dtype=np.int32)
    lat = coords["lat"].copy()
    lat_axis = lat[::-1] if descending_lat else lat
    variables = {
        "time": (("time",), hours,
                 {"units": "hours since 2011-01-01 00:00:00"}),
        "latitude": (("latitude",), lat_axis, {"units": "degrees_north"}),
        "longitude": (("longitude",), coords["lon"], {}),
    }
    for name, cube in cubes.items():
        c = cube[:, ::-1, :] if descending_lat else cube
        variables[name] = (("time", "latitude", "longitude"), c, {})
    write_nc3(
        str(path),
        {"time": None, "latitude": ny, "longitude": nx},
        variables,
        gatts={"Conventions": "CF-1.6"},
    )
    return coords, cubes


def test_read_netcdf_classic_end_to_end(spark, tmp_path):
    """S1 un-gated (VERDICT r6 #7): a synthesized .nc month reads
    WITHOUT xarray and matches the gridded_to_table+era5_prepare path
    bit-exactly."""
    from geodata_spark import sources

    nc_path = tmp_path / "era5_2011_01.nc"
    coords, cubes = _write_era5_fixture(nc_path)
    got = sources.read_netcdf(spark, str(nc_path)).toPandas()
    got = got.sort_values(["ts", "lat", "lon"]).reset_index(drop=True)

    ts64 = (np.datetime64("2011-01-01T00:00:00", "ns")
            + np.arange(4) * np.timedelta64(1, "h").astype("timedelta64[ns]"))
    want = sources.era5_prepare(
        sources.gridded_to_table(
            spark, {"ts": ts64, "lat": coords["lat"], "lon": coords["lon"]},
            cubes)
    ).toPandas().sort_values(["ts", "lat", "lon"]).reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_read_netcdf_classic_descending_lat_and_bounds(spark, tmp_path):
    """CDS files store latitude 90→-90; the classic path normalizes to
    ascending and applies the padded bbox subset like the reference."""
    from geodata_spark import sources

    nc_path = tmp_path / "era5_desc.nc"
    coords, cubes = _write_era5_fixture(nc_path, descending_lat=True)
    lat_min, lat_max = float(coords["lat"][1]), float(coords["lat"][2])
    lon_min, lon_max = float(coords["lon"][1]), float(coords["lon"][3])
    got = sources.read_netcdf(
        spark, str(nc_path), dataset=None,
        bounds=(lat_min, lat_max, lon_min, lon_max),
    ).toPandas().sort_values(["ts", "lat", "lon"]).reset_index(drop=True)
    assert sorted(got["lat"].unique()) == [coords["lat"][1], coords["lat"][2]]
    assert sorted(got["lon"].unique()) == list(coords["lon"][1:4])
    # value alignment survives the flip + subset: check (t=1, y=2, x=3)
    want = cubes["t2m"][1, 2, 3]
    sel = got[(got.lat == coords["lat"][2]) & (got.lon == coords["lon"][3])]
    assert want in sel["t2m"].to_numpy()


def test_read_netcdf_classic_skips_extra_dim_vars(spark, tmp_path):
    """ERA5T-style variables with extra dims are skipped with a
    warning, not fatal (reference behavior)."""
    from geodata_spark import sources
    from tests.nc3_writer import write_nc3

    nt, ny, nx = 2, 2, 2
    write_nc3(
        str(tmp_path / "extra.nc"),
        {"time": None, "latitude": ny, "longitude": nx, "expver": 2},
        {
            "time": (("time",), np.arange(nt, dtype=np.int32),
                     {"units": "hours since 2011-01-01 00:00:00"}),
            "latitude": (("latitude",), np.array([10.0, 10.5]), {}),
            "longitude": (("longitude",), np.array([70.0, 70.5]), {}),
            "t2m": (("time", "latitude", "longitude"),
                    np.full((nt, ny, nx), 280.0), {}),
            "weird": (("time", "expver", "latitude", "longitude"),
                      np.zeros((nt, 2, ny, nx)), {}),
        },
    )
    with pytest.warns(UserWarning, match="weird"):
        out = sources.read_netcdf(spark, str(tmp_path / "extra.nc"), dataset=None)
    assert "t2m" in out.columns and "weird" not in out.columns


def test_gridded_to_table_layout(spark):
    """Cube flatten: row count, coord meshing, value alignment."""
    from geodata_spark import sources

    coords, cubes = _fake_cube()
    df = sources.gridded_to_table(spark, coords, {"t2m": cubes["t2m"]})
    assert df.count() == 4 * 3 * 5
    pdf = df.toPandas().sort_values(["ts", "lat", "lon"]).reset_index(drop=True)
    # spot-check the (t=2, y=1, x=3) cell
    want = cubes["t2m"][2, 1, 3]
    got = pdf[
        (pdf.ts == coords["ts"][2])
        & (pdf.lat == coords["lat"][1])
        & (pdf.lon == coords["lon"][3])
    ]["t2m"].iloc[0]
    assert got == want
    with pytest.raises(ValueError, match="shape"):
        sources.gridded_to_table(spark, coords, {"bad": cubes["t2m"][:2]})


def test_era5_prepare_matches_numpy_twin(spark):
    """Every derived ERA5 variable — albedo, influx power conversion,
    wind speed, clipped runoff, renames — equals the reference
    arithmetic evaluated in numpy."""
    from geodata_spark import sources

    coords, cubes = _fake_cube()
    raw = sources.gridded_to_table(spark, coords, cubes)
    out = sources.era5_prepare(raw).toPandas()
    out = out.sort_values(["ts", "lat", "lon"]).reset_index(drop=True)

    def flat(name):
        return cubes[name].ravel()

    order = np.lexsort(
        (
            np.tile(coords["lon"], 4 * 3),
            np.tile(np.repeat(coords["lat"], 5), 4),
            np.repeat(np.arange(4), 3 * 5),
        )
    )
    ssrd, ssr = flat("ssrd")[order], flat("ssr")[order]
    with np.errstate(divide="ignore", invalid="ignore"):
        albedo = np.nan_to_num((ssrd - ssr) / ssrd, nan=0.0)
    assert np.array_equal(out["albedo"].to_numpy(), albedo)
    assert np.array_equal(
        out["influx_direct"].to_numpy(),
        np.clip(flat("fdir")[order], 0, None) / 3600.0,
    )
    assert np.array_equal(
        out["influx_diffuse"].to_numpy(),
        np.clip(ssrd - flat("fdir")[order], 0, None) / 3600.0,
    )
    assert np.array_equal(
        out["influx_toa"].to_numpy(), np.clip(flat("tisr")[order], 0, None) / 3600.0
    )
    assert np.array_equal(
        out["wnd100m"].to_numpy(),
        np.sqrt(flat("u100")[order] ** 2 + flat("v100")[order] ** 2),
    )
    assert np.array_equal(
        out["runoff"].to_numpy(), np.clip(flat("ro")[order], 0, None)
    )
    for got, src in [
        ("temperature", "t2m"), ("pressure", "sp"),
        ("soil_temperature", "stl4"), ("roughness", "fsr"),
    ]:
        assert np.array_equal(out[got].to_numpy(), flat(src)[order])
    # night cell: ssrd=0 → albedo exactly 0, no NaN/Inf anywhere
    assert np.isfinite(out.select_dtypes("number").to_numpy()).all()


def test_merra2_prepare_renames_and_wind(spark):
    from geodata_spark import sources

    coords, _ = _fake_cube(nt=2, ny=2, nx=2)
    rng = np.random.default_rng(3)
    shape = (2, 2, 2)
    cubes = {
        "z0m": rng.uniform(0.01, 1, shape),
        "ulml": rng.uniform(-10, 10, shape),
        "vlml": rng.uniform(-10, 10, shape),
        "tlml": rng.uniform(250, 300, shape),
    }
    raw = sources.gridded_to_table(spark, coords, cubes)
    out = sources.merra2_prepare(raw).toPandas()
    assert "roughness" in out.columns and "z0m" not in out.columns
    assert np.array_equal(
        np.sort(out["wndlml"].to_numpy()),
        np.sort(np.sqrt(cubes["ulml"].ravel() ** 2 + cubes["vlml"].ravel() ** 2)),
    )
    assert np.array_equal(
        np.sort(out["temperature"].to_numpy()), np.sort(cubes["tlml"].ravel())
    )
    # variables the file lacks: no wind derive, no crash (reference
    # warns and continues — merra2.py:227-233)
    bare = sources.gridded_to_table(spark, coords, {"tlml": cubes["tlml"]})
    out2 = sources.merra2_prepare(bare)
    assert "wndlml" not in out2.columns and "temperature" in out2.columns
