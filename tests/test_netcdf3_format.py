"""Binary-layer tests for the pure-Python classic NetCDF reader/writer
(geodata_spark.netcdf3): round-trip across all classic types, record
vs fixed layout, attributes, CF time decode, and malformed-file
errors.  No Spark session needed."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geodata_spark import netcdf3 as NC
from tests.nc3_writer import write_nc3


def test_roundtrip_all_types(tmp_path):
    p = str(tmp_path / "t.nc")
    n = 6
    vars_ = {
        "b": (("n",), np.arange(n, dtype=np.int8) - 3, {}),
        "s": (("n",), (np.arange(n, dtype=np.int16) * 1000), {}),
        "i": (("n",), (np.arange(n, dtype=np.int32) * 100000), {}),
        "f": (("n",), np.linspace(0, 1, n, dtype=np.float32), {}),
        "d": (("n",), np.linspace(-1, 1, n, dtype=np.float64), {}),
    }
    write_nc3(p, {"n": n}, vars_)
    dims, _, got = NC.read_nc3(p)
    assert dims == {"n": n}
    for k, (vd, arr, _) in vars_.items():
        assert got[k]["dims"] == vd
        assert got[k]["data"].dtype == arr.dtype
        assert np.array_equal(got[k]["data"], arr)


def test_roundtrip_record_and_fixed_mix(tmp_path):
    """Record vars interleave per record at a shared stride; fixed vars
    sit at absolute offsets before the record section — both must
    round-trip, including the 4-byte padding of a 1-element record
    slab (the int32 time var next to 48-byte float slabs)."""
    p = str(tmp_path / "rec.nc")
    nt, ny = 7, 3
    t = np.arange(nt, dtype=np.int32) * 3
    a = np.arange(nt * ny, dtype=np.float64).reshape(nt, ny) / 8
    b = (np.arange(nt * ny, dtype=np.float32).reshape(nt, ny) % 5)
    fixed = np.array([1.5, 2.5, 3.5])
    write_nc3(
        p,
        {"time": None, "y": ny},
        {
            "time": (("time",), t, {"units": "hours since 2000-01-01 00:00:00"}),
            "a": (("time", "y"), a, {}),
            "b": (("time", "y"), b, {}),
            "yc": (("y",), fixed, {}),
        },
    )
    dims, _, got = NC.read_nc3(p)
    assert dims["time"] == nt
    assert np.array_equal(got["time"]["data"], t)
    assert np.array_equal(got["a"]["data"], a)
    assert np.array_equal(got["b"]["data"], b)
    assert np.array_equal(got["yc"]["data"], fixed)


def test_attributes_roundtrip(tmp_path):
    p = str(tmp_path / "att.nc")
    write_nc3(
        p,
        {"n": 2},
        {"v": (("n",), np.array([1.0, 2.0]),
               {"units": "K", "scale": np.float64(0.5),
                "flags": np.array([1, 2, 3], dtype=np.int32)})},
        gatts={"title": "x" * 9, "level": np.int32(4)},  # 9: pad check
    )
    _, g, got = NC.read_nc3(p)
    assert g["title"] == "x" * 9 and g["level"] == 4
    atts = got["v"]["atts"]
    assert atts["units"] == "K" and atts["scale"] == 0.5
    assert np.array_equal(atts["flags"], [1, 2, 3])


def test_cf_time_decode_units():
    for unit, delta in [("seconds", "s"), ("minutes", "m"),
                        ("hours", "h"), ("days", "D")]:
        got = NC.decode_cf_time(
            np.array([0, 2]), f"{unit} since 1980-06-01 12:00:00")
        want = (np.datetime64("1980-06-01T12:00:00", "ns")
                + np.array([0, 2]) * np.timedelta64(1, delta).astype(
                    "timedelta64[ns]"))
        assert np.array_equal(got, want), unit
    with pytest.raises(ValueError, match="unsupported"):
        NC.decode_cf_time(np.array([0]), "fortnights since 2000-01-01")


def test_bad_magic_raises(tmp_path):
    p = tmp_path / "bad.nc"
    p.write_bytes(b"\x89HDF\r\n\x1a\n")
    with pytest.raises(ValueError, match="not a classic"):
        NC.read_nc3(str(p))


def test_streaming_numrecs_raises(tmp_path):
    p = tmp_path / "stream.nc"
    p.write_bytes(b"CDF\x01" + struct.pack(">i", -1) + b"\x00" * 16)
    with pytest.raises(ValueError, match="streaming"):
        NC.read_nc3(str(p))


def test_cdf2_64bit_offsets_read(tmp_path):
    """The reader handles CDF-2 (64-bit begin offsets): rewrite a
    v1 fixture's header into v2 form byte-by-byte and re-read."""
    p1 = str(tmp_path / "v1.nc")
    arr = np.array([10.0, 20.0, 30.0])
    write_nc3(p1, {"n": 3}, {"v": (("n",), arr, {})})
    buf = open(p1, "rb").read()
    # v1 layout for this file: the single var's 4-byte begin is the
    # last 4 header bytes before the data payload (24 bytes of data)
    data = buf[-24:]
    head = buf[:-28]
    (begin,) = struct.unpack(">i", buf[-28:-24])
    v2 = (b"CDF\x02" + head[4:] + struct.pack(">q", begin + 4) + data)
    p2 = tmp_path / "v2.nc"
    p2.write_bytes(v2)
    _, _, got = NC.read_nc3(str(p2))
    assert np.array_equal(got["v"]["data"], arr)
