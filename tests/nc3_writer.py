"""Classic (CDF-1) NetCDF fixture writer for the reader's tests.

Synthesizes byte-valid files without any external library; they
round-trip through :func:`geodata_spark.netcdf3.read_nc3` bit-exactly.
"""

from __future__ import annotations

import struct

import numpy as np

from geodata_spark.netcdf3 import (
    _DTYPES,
    NC_ATTRIBUTE,
    NC_BYTE,
    NC_CHAR,
    NC_DIMENSION,
    NC_DOUBLE,
    NC_FLOAT,
    NC_INT,
    NC_SHORT,
    NC_VARIABLE,
    _pad4,
)

_NCTYPE = {
    np.dtype("i1"): NC_BYTE,
    np.dtype("i2"): NC_SHORT,
    np.dtype("i4"): NC_INT,
    np.dtype("f4"): NC_FLOAT,
    np.dtype("f8"): NC_DOUBLE,
}


class _Writer:
    def __init__(self):
        self.parts: list[bytes] = []

    def i4(self, v: int):
        self.parts.append(struct.pack(">i", v))

    def name(self, s: str):
        b = s.encode("utf-8")
        self.i4(len(b))
        self.parts.append(b + b"\x00" * (_pad4(len(b)) - len(b)))

    def values(self, arr: np.ndarray):
        raw = arr.tobytes()
        self.parts.append(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))

    def att_list(self, atts: dict):
        if not atts:
            self.i4(0)
            self.i4(0)
            return
        self.i4(NC_ATTRIBUTE)
        self.i4(len(atts))
        for k, v in atts.items():
            self.name(k)
            if isinstance(v, str):
                b = v.encode("utf-8")
                self.i4(NC_CHAR)
                self.i4(len(b))
                self.parts.append(b + b"\x00" * (_pad4(len(b)) - len(b)))
            else:
                a = np.atleast_1d(np.asarray(v))
                t = _NCTYPE[a.dtype.newbyteorder("=")]
                self.i4(t)
                self.i4(len(a))
                self.values(a.astype(_DTYPES[t]))

    def bytes(self) -> bytes:
        return b"".join(self.parts)


def write_nc3(
    path: str,
    dims: dict[str, int | None],
    variables: dict[str, tuple[tuple[str, ...], np.ndarray, dict]],
    gatts: dict | None = None,
) -> None:
    """Write a classic (CDF-1) NetCDF file.

    ``dims`` maps name → size (``None`` marks THE record dimension);
    ``variables`` maps name → (dim names, array, attributes).  Record
    variables must list the record dim first; their arrays carry the
    actual record count as their leading axis.
    """
    dim_names = list(dims)
    dim_index = {n: i for i, n in enumerate(dim_names)}
    rec_name = next((n for n, s in dims.items() if s is None), None)
    numrecs = 0
    if rec_name is not None:
        for vd, arr, _ in variables.values():
            if vd and vd[0] == rec_name:
                numrecs = max(numrecs, arr.shape[0])

    # canonical var encoding: big-endian payloads
    enc = {}
    for nm, (vd, arr, atts) in variables.items():
        a = np.asarray(arr)
        t = _NCTYPE[a.dtype.newbyteorder("=")]
        enc[nm] = (vd, a.astype(_DTYPES[t]), atts, t)

    def vsize_of(nm) -> int:
        vd, a, _, t = enc[nm]
        per = a.size if not (vd and vd[0] == rec_name) else a[0].size if a.ndim else 1
        return _pad4(per * _DTYPES[t].itemsize)

    # header with placeholder offsets → fixed length, then fill
    def emit(offsets: dict[str, int]) -> bytes:
        w = _Writer()
        w.parts.append(b"CDF\x01")
        w.i4(numrecs)
        w.i4(NC_DIMENSION if dims else 0)
        w.i4(len(dims))
        for n in dim_names:
            w.name(n)
            w.i4(0 if dims[n] is None else int(dims[n]))
        w.att_list(gatts or {})
        w.i4(NC_VARIABLE if variables else 0)
        w.i4(len(variables))
        for nm, (vd, a, atts, t) in enc.items():
            w.name(nm)
            w.i4(len(vd))
            for d in vd:
                w.i4(dim_index[d])
            w.att_list(atts)
            w.i4(t)
            w.i4(vsize_of(nm))
            w.i4(offsets.get(nm, 0))
        return w.bytes()

    header_len = len(emit({}))
    fixed = [nm for nm, (vd, _, _, _) in enc.items() if not (vd and vd[0] == rec_name)]
    recs = [nm for nm in enc if nm not in fixed]
    offsets = {}
    pos = header_len
    for nm in fixed:
        offsets[nm] = pos
        pos += vsize_of(nm)
    rec_start = pos
    rec_size = sum(vsize_of(nm) for nm in recs)
    run = rec_start
    for nm in recs:
        offsets[nm] = run
        run += vsize_of(nm)

    body = bytearray(rec_start - header_len + rec_size * numrecs)
    for nm in fixed:
        raw = enc[nm][1].tobytes()
        off = offsets[nm] - header_len
        body[off : off + len(raw)] = raw
    for nm in recs:
        vd, a, _, t = enc[nm]
        flat = a.reshape(numrecs, -1)  # slice, not scalar: a[rec] on a
        # 1-D array yields a numpy SCALAR, which silently drops the
        # big-endian byte order on .tobytes()
        for rec in range(numrecs):
            raw = flat[rec].tobytes()
            off = offsets[nm] - header_len + rec * rec_size
            body[off : off + len(raw)] = raw

    with open(path, "wb") as f:
        f.write(emit(offsets))
        f.write(bytes(body))
