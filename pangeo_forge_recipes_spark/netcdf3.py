"""Pure-numpy NetCDF3 classic container support (no scipy/netCDF4 needed).

Implements the public NetCDF classic file format (CDF-1, CDF-2 "64-bit
offset", and CDF-5 "64-bit data" — pnetcdf lineage: 8-byte NON_NEG
header fields plus the NC_UBYTE/NC_USHORT/NC_UINT/NC_INT64/NC_UINT64
external types) from the format specification: a header (dims, global
attrs, variable table with byte offsets) followed by big-endian array
data, fixed-size variables stored contiguously. This gives the engine a
native path for the reference's primary test format
(``/root/reference/pangeo_forge_recipes/openers.py:40-47`` maps
``FileType.netcdf3`` to the scipy engine; here the engine itself reads
the bytes).

Covered:
* ``write_netcdf3`` — NDDataset → classic file (fixed dims only; CDF-2
  offsets chosen automatically when any variable starts beyond 2**31-1);
* ``read_netcdf3`` — full decode, including record variables written by
  other producers;
* ``netcdf3_schema`` — header-only metadata (the cheap schema pass never
  touches array bytes);
* ``scan_netcdf3`` — kerchunk-style virtual-Zarr references: each fixed
  variable's contiguous block becomes a byte-range chunk with a
  big-endian ``bytes`` codec (analog of kerchunk's ``NetCDF3ToZarr``,
  reference ``openers.py:137-204``).

Type mapping notes (CDF-1/2 classic has no 64-bit integers):
* int64 data is stored as NC_INT when every value fits, else it is an
  error — same contract scipy's writer enforces; ``version=5`` stores
  64-bit and unsigned integers natively as CDF-5 types;
* datetime64 variables are CF-encoded to integer offsets using the
  variable's ``encoding['units']`` (default seconds since epoch) and
  stored as NC_INT when they fit, else NC_DOUBLE.
"""

from __future__ import annotations

import json
import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

from .aggregation import XarraySchema
from .cfcalendar import is_standard_calendar
from .ndset import NDDataset, Variable, decode_cf_datetime, encode_cf_datetime
from .storage import open_seekable, ref_url

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
# CDF-5 (pnetcdf lineage) additional external types
NC_UBYTE, NC_USHORT, NC_UINT, NC_INT64, NC_UINT64 = 7, 8, 9, 10, 11
_TAG_DIM, _TAG_VAR, _TAG_ATT = 0x0A, 0x0B, 0x0C

_NC_DTYPE = {
    NC_BYTE: np.dtype(">i1"),
    NC_CHAR: np.dtype("S1"),
    NC_SHORT: np.dtype(">i2"),
    NC_INT: np.dtype(">i4"),
    NC_FLOAT: np.dtype(">f4"),
    NC_DOUBLE: np.dtype(">f8"),
    NC_UBYTE: np.dtype("u1"),
    NC_USHORT: np.dtype(">u2"),
    NC_UINT: np.dtype(">u4"),
    NC_INT64: np.dtype(">i8"),
    NC_UINT64: np.dtype(">u8"),
}
_DTYPE_NC = {
    "int8": NC_BYTE,
    "int16": NC_SHORT,
    "int32": NC_INT,
    "float32": NC_FLOAT,
    "float64": NC_DOUBLE,
}
# CDF-5 keeps wide/unsigned types natively instead of downcasting
_DTYPE_NC5 = {
    **_DTYPE_NC,
    "uint8": NC_UBYTE,
    "uint16": NC_USHORT,
    "uint32": NC_UINT,
    "int64": NC_INT64,
    "uint64": NC_UINT64,
}
_DEFAULT_TIME_UNITS = "seconds since 1970-01-01"


def _pad4(n: int) -> int:
    return (n + 3) & ~3


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _nn(v: int, wide: bool) -> bytes:
    """One NON_NEG field: 4 bytes in CDF-1/2, 8 in CDF-5."""
    return struct.pack(">Q" if wide else ">I", v)


def _name_bytes(name: str, wide: bool = False) -> bytes:
    raw = name.encode("utf-8")
    return _nn(len(raw), wide) + raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def _attr_value_bytes(value, wide: bool = False) -> bytes:
    """Encode one attribute value: nc_type + count + padded payload."""
    if isinstance(value, (str, bytes)):
        raw = value.encode("utf-8") if isinstance(value, str) else value
        body = raw + b"\x00" * (_pad4(len(raw)) - len(raw))
        return struct.pack(">I", NC_CHAR) + _nn(len(raw), wide) + body
    arr = np.atleast_1d(np.asarray(value))
    if arr.dtype.kind == "b":
        arr = arr.astype("int8")
    if arr.dtype.kind == "i" and arr.dtype.itemsize > 4:
        if arr.size and (arr.max() > 2**31 - 1 or arr.min() < -(2**31)):
            arr = arr.astype("float64")
        else:
            arr = arr.astype("int32")
    if arr.dtype.kind == "u":
        arr = arr.astype("int32" if arr.dtype.itemsize <= 2 else "float64")
    if arr.dtype.kind not in "if":
        # non-scalar metadata (dicts, lists of str) rides as JSON text
        return _attr_value_bytes(json.dumps(np.asarray(value).tolist()), wide)
    nc_type = _DTYPE_NC.get(str(arr.dtype), NC_DOUBLE)
    enc = arr.astype(_NC_DTYPE[nc_type])
    body = enc.tobytes()
    body += b"\x00" * (_pad4(len(body)) - len(body))
    return struct.pack(">I", nc_type) + _nn(arr.size, wide) + body


def _att_list_bytes(attrs: dict, wide: bool = False) -> bytes:
    if not attrs:
        return struct.pack(">I", 0) + _nn(0, wide)
    out = struct.pack(">I", _TAG_ATT) + _nn(len(attrs), wide)
    for k, v in attrs.items():
        out += _name_bytes(k, wide) + _attr_value_bytes(v, wide)
    return out


def _encode_var(var: Variable, cdf5: bool = False) -> Tuple[np.ndarray, dict]:
    """Return (big-endian payload array, extra attrs) for one variable.
    ``cdf5`` keeps 64-bit and unsigned integers natively (CDF-5 types)
    instead of applying the classic downcasts."""
    data = np.asarray(var.data)
    attrs = dict(var.attrs)
    is_time = data.dtype.kind == "M"
    if is_time:
        units = var.encoding.get("units", _DEFAULT_TIME_UNITS)
        calendar = var.encoding.get("calendar", "proleptic_gregorian")
        offsets = encode_cf_datetime(data, units)
        attrs["units"] = units
        attrs["calendar"] = calendar
        data = offsets
        # offsets beyond NC_INT (e.g. seconds past 2038) fall back to
        # NC_DOUBLE in classic, per the module contract (CDF-5 keeps
        # them as NC_INT64)
        if not cdf5 and data.size and (
            data.max() > 2**31 - 1 or data.min() < -(2**31)
        ):
            data = data.astype("float64")
    if data.dtype.kind == "b":
        data = data.astype("int8")
    if not cdf5:
        if data.dtype.kind == "u":
            if data.dtype.itemsize <= 2:
                data = data.astype("int32")
            else:
                raise ValueError(
                    f"NetCDF3 classic cannot store {data.dtype}; "
                    "write_netcdf3(..., version=5) can"
                )
        if data.dtype.kind == "i" and data.dtype.itemsize > 4:
            if data.size and (data.max() > 2**31 - 1 or data.min() < -(2**31)):
                raise ValueError(
                    "NetCDF3 classic has no 64-bit integer type and these "
                    "values do not fit NC_INT (scipy's writer errors the "
                    "same way); write_netcdf3(..., version=5) stores them "
                    "as NC_INT64"
                )
            data = data.astype("int32")
    elif is_time and data.dtype.kind == "i":
        pass  # CF offsets stay NC_INT64 under CDF-5
    table = _DTYPE_NC5 if cdf5 else _DTYPE_NC
    nc_type = table.get(str(data.dtype))
    if nc_type is None:
        raise ValueError(f"NetCDF3 cannot store dtype {data.dtype}")
    return np.ascontiguousarray(data, dtype=_NC_DTYPE[nc_type]), attrs


def write_netcdf3(path_or_buf, ds: NDDataset, version: Optional[int] = None) -> None:
    """Serialize an NDDataset to a classic NetCDF3 file (all dims fixed).
    ``version``: None picks CDF-1 (CDF-2 when offsets exceed 31 bits);
    5 writes CDF-5 (pnetcdf lineage — 64-bit headers plus the
    NC_UBYTE/NC_USHORT/NC_UINT/NC_INT64/NC_UINT64 external types, so
    64-bit and unsigned integers store natively)."""
    if version not in (None, 1, 2, 5):
        raise ValueError(f"version {version!r}; use None, 1, 2 or 5")
    cdf5 = version == 5
    dims: List[Tuple[str, int]] = list(ds.sizes.items())
    dim_ids = {name: i for i, (name, _) in enumerate(dims)}

    payloads: List[Tuple[str, Variable, np.ndarray, dict, int]] = []
    for name, var in {**ds.coords, **ds.data_vars}.items():
        enc, attrs = _encode_var(var, cdf5=cdf5)
        nc_type = {v: k for k, v in _NC_DTYPE.items()}[enc.dtype]
        payloads.append((name, var, enc, attrs, nc_type))

    non_dim_coords = [n for n, v in ds.coords.items() if list(v.dims) != [n]]
    gattrs = dict(ds.attrs)
    if non_dim_coords:
        gattrs["coordinates"] = " ".join(sorted(non_dim_coords))

    # header with placeholder begins to learn its size, then final header
    def build_header(version: int, begins: Dict[str, int]) -> bytes:
        wide = version == 5  # every NON_NEG field is 8 bytes in CDF-5
        off_fmt = ">Q" if version in (2, 5) else ">I"
        hdr = b"CDF" + bytes([version]) + _nn(0, wide)  # numrecs=0
        if dims:
            hdr += struct.pack(">I", _TAG_DIM) + _nn(len(dims), wide)
            for name, size in dims:
                hdr += _name_bytes(name, wide) + _nn(size, wide)
        else:
            hdr += struct.pack(">I", 0) + _nn(0, wide)
        hdr += _att_list_bytes(gattrs, wide)
        if payloads:
            hdr += struct.pack(">I", _TAG_VAR) + _nn(len(payloads), wide)
            for name, var, enc, attrs, nc_type in payloads:
                hdr += _name_bytes(name, wide)
                hdr += _nn(len(var.dims), wide)
                for d in var.dims:
                    hdr += _nn(dim_ids[d], wide)
                hdr += _att_list_bytes(attrs, wide)
                # vsize is a 32-bit field in CDF-1/2; the spec stores
                # 2**32-1 as the "unspecified" sentinel for larger
                # variables (readers use shape×itemsize, as ours does).
                # CDF-5's vsize is a full 64-bit NON_NEG.
                vsize = _pad4(enc.nbytes) if wide else min(
                    _pad4(enc.nbytes), 0xFFFFFFFF
                )
                hdr += struct.pack(">I", nc_type) + _nn(vsize, wide)
                hdr += struct.pack(off_fmt, begins.get(name, 0))
        else:
            hdr += struct.pack(">I", 0) + _nn(0, wide)
        return hdr

    def layout(version: int) -> Dict[str, int]:
        base = len(build_header(version, {}))
        begins, off = {}, base
        for name, _, enc, _, _ in payloads:
            begins[name] = off
            off += _pad4(enc.nbytes)
        return begins

    if cdf5:
        version = 5
        begins = layout(5)
    else:
        version = version or 1
        begins = layout(version)
        last = max(begins.values(), default=0)
        if version == 1 and last > 2**31 - 1:
            version = 2
            begins = layout(version)

    buf = bytearray(build_header(version, begins))
    for name, _, enc, _, _ in payloads:
        raw = enc.tobytes()
        buf += raw + b"\x00" * (_pad4(len(raw)) - len(raw))

    if hasattr(path_or_buf, "write"):
        path_or_buf.write(bytes(buf))
    else:
        with open(path_or_buf, "wb") as f:
            f.write(bytes(buf))


# ---------------------------------------------------------------------------
# header parser (shared by reader / schema / scanner)
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, f, wide: bool = False):
        self.f = f
        self.pos = 0
        self.wide = wide  # CDF-5: every NON_NEG field is 8 bytes

    def read(self, n: int) -> bytes:
        b = self.f.read(n)
        if len(b) != n:
            raise ValueError("truncated NetCDF3 header")
        self.pos += n
        return b

    def u32(self) -> int:
        return struct.unpack(">I", self.read(4))[0]

    def nn(self) -> int:
        if self.wide:
            return struct.unpack(">Q", self.read(8))[0]
        return self.u32()

    def name(self) -> str:
        n = self.nn()
        raw = self.read(_pad4(n))[:n]
        return raw.decode("utf-8")

    def attrs(self) -> dict:
        tag, count = self.u32(), self.nn()
        out = {}
        if tag == 0:
            return out
        if tag != _TAG_ATT:
            raise ValueError(f"bad attribute list tag {tag:#x}")
        for _ in range(count):
            k = self.name()
            nc_type, n = self.u32(), self.nn()
            dt = _NC_DTYPE[nc_type]
            raw = self.read(_pad4(n * dt.itemsize))[: n * dt.itemsize]
            if nc_type == NC_CHAR:
                out[k] = raw.decode("utf-8", "replace")
            else:
                vals = np.frombuffer(raw, dtype=dt).astype(dt.newbyteorder("="))
                out[k] = vals.item() if n == 1 else vals.tolist()
        return out


def _parse_header(f) -> dict:
    p = _Parser(f)
    magic = p.read(4)
    if magic[:3] != b"CDF" or magic[3] not in (1, 2, 5):
        raise ValueError("not a classic NetCDF3 file")
    version = magic[3]
    p.wide = version == 5
    numrecs = p.nn()
    dims: List[Tuple[str, int]] = []
    tag, count = p.u32(), p.nn()
    if tag == _TAG_DIM:
        for _ in range(count):
            dims.append((p.name(), p.nn()))
    elif tag != 0:
        raise ValueError(f"bad dim list tag {tag:#x}")
    gattrs = p.attrs()
    variables = []
    tag, count = p.u32(), p.nn()
    if tag == _TAG_VAR:
        for _ in range(count):
            name = p.name()
            ndims = p.nn()
            dimids = [p.nn() for _ in range(ndims)]
            vattrs = p.attrs()
            nc_type = p.u32()
            vsize = p.nn()
            begin = (
                struct.unpack(">Q", p.read(8))[0]
                if version in (2, 5)
                else p.u32()
            )
            variables.append(
                {
                    "name": name,
                    "dims": [dims[i][0] for i in dimids],
                    "shape": [dims[i][1] for i in dimids],
                    "attrs": vattrs,
                    "nc_type": nc_type,
                    "vsize": vsize,
                    "begin": begin,
                    "record": bool(dimids) and dims[dimids[0]][1] == 0,
                }
            )
    elif tag != 0:
        raise ValueError(f"bad var list tag {tag:#x}")
    return {
        "version": version,
        "numrecs": numrecs,
        "dims": dims,
        "attrs": gattrs,
        "variables": variables,
    }


def _is_time_var(attrs: dict) -> bool:
    return "units" in attrs and "calendar" in attrs and " since " in str(attrs["units"])


def _var_entry(v: dict, numrecs: int) -> Tuple[dict, dict]:
    """(schema entry, encoding) for one parsed variable."""
    attrs = dict(v["attrs"])
    shape = list(v["shape"])
    if v["record"]:
        shape[0] = numrecs
    dtype = str(_NC_DTYPE[v["nc_type"]].newbyteorder("="))
    encoding: dict = {}
    if _is_time_var(attrs):
        encoding = {"units": attrs.pop("units"), "calendar": attrs.pop("calendar")}
        if is_standard_calendar(encoding["calendar"]):
            dtype = "datetime64[ns]"
    return (
        {
            "dims": v["dims"],
            "attrs": attrs,
            "dtype": dtype,
            "shape": shape,
            "encoding": encoding,
        },
        encoding,
    )


def _split_roles(header: dict) -> Tuple[set, set]:
    """Names of coord vs data variables (dim-coordinate or declared)."""
    declared = set((header["attrs"].get("coordinates", "") or "").split())
    coords = set()
    for v in header["variables"]:
        if v["name"] in declared or v["dims"] == [v["name"]]:
            coords.add(v["name"])
    return coords, {v["name"] for v in header["variables"]} - coords


def netcdf3_schema(path_or_buf) -> XarraySchema:
    """Metadata-only schema — parses the header, never reads array bytes."""
    f = open(path_or_buf, "rb") if not hasattr(path_or_buf, "read") else path_or_buf
    try:
        header = _parse_header(f)
    finally:
        if f is not path_or_buf:
            f.close()
    coords, _ = _split_roles(header)
    attrs = dict(header["attrs"])
    attrs.pop("coordinates", None)
    schema: XarraySchema = {
        "attrs": attrs,
        "coords": {},
        "data_vars": {},
        "dims": {},
        "chunks": {},
    }
    for v in header["variables"]:
        entry, _ = _var_entry(v, header["numrecs"])
        role = "coords" if v["name"] in coords else "data_vars"
        schema[role][v["name"]] = entry
        for d, s in zip(entry["dims"], entry["shape"]):
            schema["dims"][d] = s
    return schema


def read_netcdf3(path_or_buf) -> NDDataset:
    """Decode a classic NetCDF3 file into an NDDataset (fixed and record
    variables; CF time decoding when units+calendar attrs are present)."""
    f = open(path_or_buf, "rb") if not hasattr(path_or_buf, "read") else path_or_buf
    try:
        header = _parse_header(f)
        numrecs = header["numrecs"]
        rec_vars = [v for v in header["variables"] if v["record"]]

        def _rec_vsize(v) -> int:
            # vsize is stored as the 0xFFFFFFFF sentinel for variables
            # >= 4 GiB (classic-format spec) — recompute from shape ×
            # itemsize, padded to the 4-byte boundary (padding is waived
            # when there is exactly one record variable)
            if v["vsize"] != 0xFFFFFFFF:
                return v["vsize"]
            entry, _ = _var_entry(v, numrecs)
            dt = _NC_DTYPE[v["nc_type"]]
            per_rec = int(np.prod(entry["shape"][1:], dtype=np.int64)) * dt.itemsize
            return per_rec if len(rec_vars) == 1 else -(-per_rec // 4) * 4

        recsize = sum(_rec_vsize(v) for v in rec_vars)
        coords_names, _ = _split_roles(header)
        coords: Dict[str, Variable] = {}
        data_vars: Dict[str, Variable] = {}
        for v in header["variables"]:
            dt = _NC_DTYPE[v["nc_type"]]
            entry, encoding = _var_entry(v, numrecs)
            shape = entry["shape"]
            if v["record"]:
                per_rec = int(np.prod(shape[1:], dtype=np.int64)) * dt.itemsize
                chunks = []
                for r in range(numrecs):
                    f.seek(v["begin"] + r * recsize)
                    chunks.append(f.read(per_rec))
                raw = b"".join(chunks)
            else:
                f.seek(v["begin"])
                raw = f.read(int(np.prod(shape, dtype=np.int64)) * dt.itemsize)
            data = (
                np.frombuffer(raw, dtype=dt)
                .astype(dt.newbyteorder("="), copy=False)
                .reshape(shape)
            )
            if encoding and is_standard_calendar(encoding["calendar"]):
                data = decode_cf_datetime(
                    data, encoding["units"], encoding["calendar"]
                )
            # non-standard calendars keep raw int offsets + encoding
            # (SURVEY §1.2; see cfcalendar module)
            var = Variable(tuple(entry["dims"]), data, entry["attrs"], encoding)
            (coords if v["name"] in coords_names else data_vars)[v["name"]] = var
    finally:
        if f is not path_or_buf:
            f.close()
    attrs = dict(header["attrs"])
    attrs.pop("coordinates", None)
    dims = {d: (numrecs if s == 0 else s) for d, s in header["dims"]}
    return NDDataset(data_vars, coords, attrs, dims)


# ---------------------------------------------------------------------------
# kerchunk-style scanner
# ---------------------------------------------------------------------------


def scan_netcdf3(path: str, inline_threshold: int = 300) -> dict:
    """Virtual-Zarr references into a classic NetCDF3 file: each fixed
    variable's contiguous block is one byte-range chunk, declared with a
    big-endian ``bytes`` codec so readers decode in place."""
    from .kerchunkio import _array_meta, _inline
    from .zarrio import _DTYPE_TO_ZARR, ZARR_JSON

    # remote sources scan in place over block-cached Range GETs: the
    # header parse transfers O(header) bytes, never the file
    with open_seekable(path) as f:
        header = _parse_header(f)
    if any(v["record"] for v in header["variables"]):
        raise NotImplementedError(
            "record variables interleave across the file; re-written fixed "
            "layout required for byte-range references"
        )
    url = ref_url(path)
    coords, _ = _split_roles(header)
    gattrs = dict(header["attrs"])
    declared = gattrs.pop("coordinates", None)
    group_meta = {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": gattrs,
    }
    non_dim = sorted(n for n in coords if [n] != next(
        v["dims"] for v in header["variables"] if v["name"] == n
    ))
    if non_dim:
        group_meta["attributes"]["coordinates"] = " ".join(non_dim)
    refs: Dict[str, object] = {ZARR_JSON: json.dumps(group_meta)}

    for v in header["variables"]:
        dt = _NC_DTYPE[v["nc_type"]].newbyteorder("=")
        attrs = dict(v["attrs"])  # keep units/calendar: readers CF-decode
        meta = _array_meta(
            v["shape"], v["shape"] or [1], _DTYPE_TO_ZARR[str(dt)], attrs, v["dims"]
        )
        meta["codecs"] = [{"name": "bytes", "configuration": {"endian": "big"}}]
        refs[f"{v['name']}/{ZARR_JSON}"] = json.dumps(meta)
        nbytes = int(np.prod(v["shape"] or [1], dtype=np.int64)) * dt.itemsize
        chunk_key = "/".join([v["name"], "c"] + ["0"] * len(v["shape"]))
        inline: Optional[str] = None
        if nbytes <= inline_threshold:
            with open_seekable(path) as f:
                f.seek(v["begin"])
                inline = _inline(f.read(nbytes), inline_threshold)
        refs[chunk_key] = (
            inline if inline is not None else [url, v["begin"], nbytes]
        )
    return {"version": 1, "refs": refs}
