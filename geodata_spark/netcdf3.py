"""Pure-Python classic NetCDF (CDF-1/CDF-2) reader.

Implements the published classic file format (the NetCDF "classic
format spec", a stable public binary layout: magic ``CDF\\x01`` /
``CDF\\x02``, big-endian XDR-style header, fixed vars at absolute
offsets, record vars interleaved per record).  This makes the S1/S2
NetCDF on-ramp (reference ``datasets/era5.py:392-453``) a REAL
in-image scan path instead of an xarray-gated one: no third-party
NetCDF library exists in this image, and the classic subset is ~200
lines of numpy.

Scope: the classic subset only — NetCDF-4/HDF5 files (magic
``\\x89HDF``) still route to the xarray gate in
:func:`sources.read_netcdf`.  Supported here: dims (incl. one record
dim), global/variable attributes, all six classic types, CDF-2 64-bit
offsets.  Not supported (raises): NC_STREAMING record counts.

The fixture writer that round-trips through this reader lives with
the tests (``tests/nc3_writer.py``).
"""

from __future__ import annotations

import struct

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

_DTYPES = {
    NC_BYTE: np.dtype(">i1"),
    NC_CHAR: np.dtype("S1"),
    NC_SHORT: np.dtype(">i2"),
    NC_INT: np.dtype(">i4"),
    NC_FLOAT: np.dtype(">f4"),
    NC_DOUBLE: np.dtype(">f8"),
}


def _pad4(n: int) -> int:
    return (n + 3) & ~3


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.i4()
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += _pad4(n)
        return s

    def values(self, nc_type: int, n: int):
        dt = _DTYPES[nc_type]
        nbytes = dt.itemsize * n
        raw = self.buf[self.pos : self.pos + nbytes]
        self.pos += _pad4(nbytes)
        if nc_type == NC_CHAR:
            return raw.decode("utf-8", errors="replace")
        return np.frombuffer(raw, dtype=dt).copy()

    def att_list(self) -> dict:
        tag, count = self.i4(), self.i4()
        if tag == 0 and count == 0:
            return {}
        assert tag == NC_ATTRIBUTE, f"bad attribute tag {tag}"
        out = {}
        for _ in range(count):
            nm = self.name()
            t = self.i4()
            n = self.i4()
            v = self.values(t, n)
            if not isinstance(v, str) and len(v) == 1:
                v = v[0]
            out[nm] = v
        return out


def read_nc3(path: str):
    """Parse a classic NetCDF file.

    Returns ``(dims, gatts, variables)`` where ``dims`` is
    ``{name: size}`` (record dim resolved to numrecs), ``gatts`` the
    global attributes, and ``variables`` maps each name to a dict with
    ``dims`` (tuple of dim names), ``data`` (native-endian ndarray),
    and ``atts``.
    """
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError(f"{path}: not a classic NetCDF file (magic {buf[:4]!r})")
    version = buf[3]
    r = _Reader(buf)
    r.pos = 4
    numrecs = r.i4()
    if numrecs == -1:  # NC_STREAMING
        raise ValueError(f"{path}: streaming record count not supported")

    # dimensions
    tag, ndims = r.i4(), r.i4()
    dim_names: list[str] = []
    dim_sizes: list[int] = []
    rec_dim = -1
    if ndims:
        assert tag == NC_DIMENSION, f"bad dim tag {tag}"
    for d in range(ndims):
        nm = r.name()
        sz = r.i4()
        if sz == 0:
            rec_dim = d
            sz = numrecs
        dim_names.append(nm)
        dim_sizes.append(sz)

    gatts = r.att_list()

    # variables (header pass)
    tag, nvars = r.i4(), r.i4()
    if nvars:
        assert tag == NC_VARIABLE, f"bad var tag {tag}"
    headers = []
    rec_size = 0  # bytes per record across all record variables
    for _ in range(nvars):
        nm = r.name()
        nd = r.i4()
        dimids = [r.i4() for _ in range(nd)]
        atts = r.att_list()
        nc_type = r.i4()
        vsize = r.i4()
        begin = r.i8() if version == 2 else r.i4()
        is_rec = bool(dimids) and dimids[0] == rec_dim
        if is_rec:
            rec_size += vsize
        headers.append((nm, dimids, atts, nc_type, vsize, begin, is_rec))

    variables = {}
    for nm, dimids, atts, nc_type, vsize, begin, is_rec in headers:
        dt = _DTYPES[nc_type]
        shape = tuple(dim_sizes[d] for d in dimids)
        if is_rec:
            # one record's worth of this var, strided by the total
            # record size (vsize already includes per-record padding)
            per_rec = int(np.prod(shape[1:], dtype=np.int64)) if len(shape) > 1 else 1
            arr = np.empty((numrecs, per_rec), dtype=dt)
            for rec in range(numrecs):
                off = begin + rec * rec_size
                arr[rec] = np.frombuffer(
                    buf, dtype=dt, count=per_rec, offset=off
                )
            data = arr.reshape((numrecs,) + shape[1:])
        else:
            count = int(np.prod(shape, dtype=np.int64)) if shape else 1
            data = np.frombuffer(buf, dtype=dt, count=count, offset=begin).reshape(shape)
        if nc_type == NC_CHAR:
            out = data
        else:
            out = data.astype(dt.newbyteorder("="))
        variables[nm] = {
            "dims": tuple(dim_names[d] for d in dimids),
            "data": out,
            "atts": atts,
        }

    dims = dict(zip(dim_names, dim_sizes))
    return dims, gatts, variables


_CF_UNITS = {"seconds": "s", "minutes": "m", "hours": "h", "days": "D"}


def decode_cf_time(values: np.ndarray, units: str) -> np.ndarray:
    """CF time decode: ``"<unit> since <epoch>"`` → datetime64[ns]."""
    parts = units.split(" since ")
    if len(parts) != 2 or parts[0].strip() not in _CF_UNITS:
        raise ValueError(f"unsupported CF time units: {units!r}")
    unit = _CF_UNITS[parts[0].strip()]
    epoch = np.datetime64(parts[1].strip().replace(" ", "T"), "ns")
    step = np.timedelta64(1, unit).astype("timedelta64[ns]")
    return epoch + (np.asarray(values).astype(np.int64) * step)
