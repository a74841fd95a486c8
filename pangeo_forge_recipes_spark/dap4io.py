"""OPeNDAP DAP4 client, DMR++ scanner, and test server — pure Python.

The reference reaches DAP4-only servers through the netCDF4-C library
(``pangeo_forge_recipes/openers.py:40-47`` routes ``FileType.opendap``
to the netcdf4 engine, whose DAP client speaks both protocols); this
engine's :mod:`dap2io` covers DAP2 only, so growing THREDDS/Hyrax
deployments that disable DAP2 were unreachable. This module speaks the
public DAP4 wire protocol (OPeNDAP DAP4 specification):

- ``GET <url>.dmr``  → Dataset Metadata Response: an XML document with
  ``<Dimension>`` declarations, typed variable elements
  (``<Float64 name=..><Dim name="/time"/>..``), and ``<Attribute>``s.
- ``GET <url>.dap``  → data response: a CHUNKED binary stream. Each
  chunk has a 4-byte big-endian header — high byte flags
  (``1``=last chunk, ``2``=error, ``4``=payload is little-endian),
  low 24 bits the chunk byte count. The first chunk carries the
  (constrained) DMR text; the remaining chunks concatenate into the
  data block: variables serialized in DMR order as raw row-major
  bytes in the flagged byte order — NO XDR widening and no length
  prefixes (the DAP4 departure from DAP2). With ``dap4.checksum=true``
  each top-level variable is followed by its CRC-32 (4 bytes, same
  byte order).
- Constraints ride ``?dap4.ce=`` with ``;``-separated projections and
  DAP4 hyperslabs (``foo[0:1:3][0:2:8]``, stop INCLUSIVE) — server-side
  column and row pruning, so only the subset crosses the wire.

The subset implemented is the array core real gridded-data servers
emit: Int8/UInt8(Byte)/Int16/UInt16/Int32/UInt32/Int64/UInt64/
Float32/Float64 atomic arrays with named shared dimensions, plus
**String** arrays (r11 — station/label coordinates, the most common
non-numeric payload on public THREDDS servers): each element rides the
wire as an unsigned 64-bit count in the response byte order followed
by that many UTF-8 bytes (the libdap/netcdf-c serialization of DAP4's
counted vlen types), and the per-variable CRC-32 covers the counted
serialization. Sequences, Structures and opaque types still raise
with a named gate.

**DMR++** (the NASA EOSDIS sidecar convention — a DMR annotated with
``dmrpp:chunks`` byte ranges into the original HDF5/netCDF4 object) is
parsed by :func:`scan_dmrpp` into the engine's kerchunk reference model:
a ``.dmrpp`` document published next to an archive file makes the
archive virtual-Zarr-readable with zero reads of the source at scan
time — chunk reads later are ranged GETs, deflate/shuffle filters map
onto the zarr codec chain. String variables (r12) read through all
three sidecar encodings BES emits: ``dmrpp:FixedLengthStringArray`` +
chunks (fixed-width records → zarr raw type ``r{8*len}``),
``dmrpp:vlsa`` (vlen values inlined in the document, run-length
``c=`` attrs), and ``dmrpp:compact`` (base64 compact-layout buffers,
strings and numerics alike); only vlen strings WITH byte-range chunks
still gate — those bytes are HDF5 global-heap references.

Schema reads (``dap4_schema``) touch only ``.dmr`` — the metadata-only
first pass of the pipeline never transfers array payloads.
"""

from __future__ import annotations

import struct
import threading
import urllib.parse
import xml.etree.ElementTree as ET
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Dict, List, Optional, Tuple

import numpy as np

from .ndset import NDDataset, Variable

__all__ = [
    "read_dap4",
    "read_dap4_sequence",
    "dap4_sequences_to_df",
    "dap4_schema",
    "parse_dmr",
    "scan_dmrpp",
    "serve_ndsets_dap4",
    "Dap4Server",
    "MissingDmrppHref",
]


class MissingDmrppHref(ValueError):
    """The DMR++ document carries no ``dmrpp:href`` and the caller gave
    no ``data_url`` — a dedicated type so callers can apply the
    sits-next-to-its-data convention WITHOUT swallowing real scan
    errors (malformed offsets, out-of-grid chunk positions) behind a
    broad ``except ValueError``."""

_DAP4_NS = "http://xml.opendap.org/ns/DAP/4.0#"
_DMRPP_NS = "http://xml.opendap.org/dap/dmrpp/1.0.0#"

# DAP4 atomic type → numpy dtype character (native sizes on the wire)
_DAP4_TYPES: Dict[str, str] = {
    "Int8": "i1",
    "Byte": "u1",
    "UInt8": "u1",
    "Char": "u1",
    "Int16": "i2",
    "UInt16": "u2",
    "Int32": "i4",
    "UInt32": "u4",
    "Int64": "i8",
    "UInt64": "u8",
    "Float32": "f4",
    "Float64": "f8",
}
_NP_TO_DAP4 = {
    "int8": "Int8",
    "uint8": "UInt8",
    "int16": "Int16",
    "uint16": "UInt16",
    "int32": "Int32",
    "uint32": "UInt32",
    "int64": "Int64",
    "uint64": "UInt64",
    "float32": "Float32",
    "float64": "Float64",
    "bool": "UInt8",
}

_CHUNK_LAST = 0x01
_CHUNK_ERROR = 0x02
_CHUNK_LITTLE_ENDIAN = 0x04


def _tag(el) -> str:
    """Element tag without its XML namespace."""
    return el.tag.rsplit("}", 1)[-1]


# ===========================================================================
# DMR parsing (client side)
# ===========================================================================


def _attr_value(el) -> object:
    typ = el.get("type", "String")
    vals = [v.text or "" for v in el if _tag(v) == "Value"]
    if typ in ("String", "URL", "Url"):
        out = vals
    elif typ in ("Float32", "Float64"):
        out = [float(v) for v in vals]
    elif typ.startswith(("Int", "UInt", "Byte", "Char")):
        out = [int(v) for v in vals]
    else:
        out = vals
    if len(out) == 1:
        return out[0]
    return out


def parse_dmr(text: str) -> dict:
    """Parse a DMR (or DMR++) document into the same shape
    :func:`~.dap2io.parse_dds` produces — ``{"name", "vars": [{"name",
    "type", "dims": [(dim_name_or_None, size)], "maps": [], "attrs",
    "chunks"}], "dims": {name: size}, "attrs"}`` — so downstream schema
    assembly is protocol-agnostic. ``chunks`` carries any ``dmrpp:``
    byte-range annotations (None otherwise)."""
    root = ET.fromstring(text)
    if _tag(root) != "Dataset":
        raise ValueError(f"not a DMR document (root <{_tag(root)}>)")
    dims: Dict[str, int] = {}
    variables: List[dict] = []
    attrs: Dict[str, object] = {}

    def walk(group, prefix: str):
        for el in group:
            t = _tag(el)
            if t == "Dimension":
                dims[prefix + el.get("name")] = int(el.get("size"))
            elif t == "Attribute":
                if prefix == "":
                    attrs[el.get("name")] = _attr_value(el)
            elif t == "Group":
                walk(el, prefix + el.get("name") + "/")
            elif t == "Sequence":
                # DAP4 Sequence — counted records of scalar fields (the
                # station / in-situ observation shape; r11 verdict #3).
                # This engine is a DataFrame engine, so Sequences decode
                # to columns (see read_dap4_sequence) rather than to the
                # NDDataset grid model.
                fields: List[dict] = []
                sattrs: Dict[str, object] = {}
                for sub in el:
                    st = _tag(sub)
                    if st == "Attribute":
                        sattrs[sub.get("name")] = _attr_value(sub)
                    elif st in _DAP4_TYPES or st == "String":
                        if any(_tag(x) == "Dim" for x in sub):
                            raise NotImplementedError(
                                f"DAP4 Sequence field "
                                f"{sub.get('name')!r} has array dims — "
                                "scalar fields only"
                            )
                        fields.append(
                            {
                                "name": sub.get("name"),
                                "type": st,
                                "attrs": {
                                    a.get("name"): _attr_value(a)
                                    for a in sub
                                    if _tag(a) == "Attribute"
                                },
                            }
                        )
                    elif st in ("Sequence", "Structure"):
                        raise NotImplementedError(
                            f"nested DAP4 {st} inside a Sequence is not "
                            "supported (flat scalar fields only)"
                        )
                variables.append(
                    {
                        "name": prefix + el.get("name"),
                        "type": "Sequence",
                        "dims": [],
                        "maps": [],
                        "attrs": sattrs,
                        "chunks": None,
                        "flsa": None,
                        "vlsa": None,
                        "compact": None,
                        "fields": fields,
                    }
                )
            elif t in ("Structure", "Opaque"):
                raise NotImplementedError(
                    f"DAP4 {t} variables are not supported (atomic "
                    "arrays, Strings and Sequences only)"
                )
            elif t in _DAP4_TYPES or t == "String":
                var = {
                    "name": prefix + el.get("name"),
                    "type": t,
                    "dims": [],
                    "maps": [],
                    "attrs": {},
                    "chunks": None,
                    "flsa": None,
                    "vlsa": None,
                    "compact": None,
                }
                for sub in el:
                    st = _tag(sub)
                    if st == "Dim":
                        ref = sub.get("name")
                        if ref is not None:
                            dname = ref.lstrip("/")
                            var["dims"].append((dname, dims[dname]))
                        else:  # anonymous dimension
                            var["dims"].append((None, int(sub.get("size"))))
                    elif st == "Attribute":
                        var["attrs"][sub.get("name")] = _attr_value(sub)
                    elif st == "chunks":  # dmrpp:chunks
                        var["chunks"] = _parse_dmrpp_chunks(sub)
                    elif st == "FixedLengthStringArray":
                        # dmrpp annotation for HDF5 FIXED-width strings:
                        # the chunk bytes are string_length-wide records
                        var["flsa"] = {
                            "length": int(sub.get("string_length")),
                            "pad": sub.get("pad", "null_term"),
                        }
                    elif st == "vlsa":
                        # dmrpp:vlsa — variable-length string values
                        # INLINED in the sidecar (<dmrpp:v>, optional
                        # run-length attribute c="N"), the BES encoding
                        # for HDF5 vlen strings whose heap references
                        # cannot be read as byte ranges
                        vals: List[str] = []
                        for vv in sub:
                            if _tag(vv) == "v":
                                vals.extend(
                                    [vv.text or ""] * int(vv.get("c", "1"))
                                )
                        var["vlsa"] = vals
                    elif st == "compact":
                        # dmrpp:compact — base64 of the raw buffer for
                        # HDF5 compact-layout datasets (no chunks)
                        import base64

                        var["compact"] = base64.b64decode(sub.text or "")
                variables.append(var)

    walk(root, "")
    return {
        "name": root.get("name", ""),
        "vars": variables,
        "dims": dims,
        "attrs": attrs,
    }


def _parse_dmrpp_chunks(el) -> dict:
    """One variable's ``dmrpp:chunks`` block → ``{"filters",
    "chunk_shape", "chunks": [{"offset", "nbytes", "pos"}]}``. The
    ``compressionType`` attribute is a space-separated filter list in
    HDF5 application order (e.g. ``"shuffle deflate"``)."""
    out = {
        "filters": (el.get("compressionType") or "").split() or [],
        "chunk_shape": None,
        "chunks": [],
        "element_bytes": el.get("deflateLevel"),  # unused; kept verbatim
    }
    for sub in el:
        st = _tag(sub)
        if st == "chunkDimensionSizes":
            out["chunk_shape"] = [int(x) for x in (sub.text or "").split()]
        elif st == "chunk":
            pos_attr = sub.get("chunkPositionInArray")
            pos = (
                [int(x) for x in pos_attr.strip("[]").split(",")]
                if pos_attr
                else None
            )
            out["chunks"].append(
                {
                    "offset": int(sub.get("offset")),
                    "nbytes": int(sub.get("nBytes")),
                    "pos": pos,
                }
            )
    return out


# ===========================================================================
# .dap chunked-response decoding
# ===========================================================================


def _read_chunked(payload: bytes) -> Tuple[str, bytes, bool]:
    """Split a DAP4 data response into ``(dmr_text, data, little_endian)``.
    The first chunk carries the constrained DMR; the rest concatenate
    into the data block. An ERROR chunk raises with the server text."""
    off = 0
    dmr_text: Optional[str] = None
    data = bytearray()
    little = True
    while off + 4 <= len(payload):
        (word,) = struct.unpack_from(">I", payload, off)
        off += 4
        flags, size = word >> 24, word & 0xFFFFFF
        chunk = bytes(payload[off : off + size])
        off += size
        if flags & _CHUNK_ERROR:
            raise RuntimeError(f"DAP4 error response: {chunk.decode(errors='replace')}")
        if dmr_text is None:
            # byte order latches from the FIRST chunk header only —
            # libdap reads it once; servers that set the bit only there
            # must not flip `little` back on later chunks (silent
            # byte-swap when dap4.checksum is off)
            little = bool(flags & _CHUNK_LITTLE_ENDIAN)
            dmr_text = chunk.decode()
        else:
            data += chunk
        if flags & _CHUNK_LAST:
            break
    if dmr_text is None:
        raise ValueError("empty DAP4 response (no chunks)")
    return dmr_text, bytes(data), little


def _fetch(url: str, timeout: float = 60.0) -> bytes:
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        return resp.read()


def read_dap4(
    url: str,
    projection: Optional[List[str]] = None,
    timeout: float = 60.0,
    isel: Optional[Dict[str, slice]] = None,
    checksums: bool = False,
    dmr_text: Optional[str] = None,
) -> NDDataset:
    """Open a DAP4 endpoint as an :class:`NDDataset` (one ``.dmr`` + one
    ``.dap`` request). ``projection`` restricts the transfer to the
    named variables (with optional explicit hyperslabs); ``isel`` builds
    hyperslabs from dim slices for every projected variable — the same
    server-side pruning surface :func:`~.dap2io.read_dap2` offers.
    ``checksums=True`` requests and VERIFIES per-variable CRC-32.
    ``dmr_text`` skips the metadata request when the caller already
    holds the document (the negotiation probe hands it through)."""
    dmr = parse_dmr(dmr_text or _fetch(url + ".dmr", timeout).decode())
    by_name = {v["name"]: v for v in dmr["vars"]}
    if isel:
        base = projection if projection else list(by_name)
        projection = []
        for p in base:
            n = p.split("[", 1)[0]
            decl = by_name.get(n)
            if decl is None or "[" in p:
                overlap = decl and [
                    d for d, _ in decl["dims"] if (d or n) in isel
                ]
                if decl and overlap:
                    raise ValueError(
                        f"projection {p!r} carries explicit hyperslabs and "
                        f"isel also constrains {overlap}: drop one"
                    )
                projection.append(p)
                continue
            slabs = []
            for dname, size in decl["dims"]:
                sl = isel.get(dname or n)
                if sl is None:
                    slabs.append(f"[0:1:{size - 1}]")
                else:
                    start, stop, step = sl.indices(size)
                    if stop <= start:
                        raise ValueError(f"empty isel slice for dim {dname!r}")
                    slabs.append(f"[{start}:{step}:{stop - 1}]")
            projection.append(n + "".join(slabs))
    dap_url = url + ".dap"
    query = []
    if projection:
        query.append(
            "dap4.ce=" + urllib.parse.quote(";".join(projection), safe="")
        )
    if checksums:
        query.append("dap4.checksum=true")
    if query:
        dap_url += "?" + "&".join(query)
    dmr_text, data, little = _read_chunked(_fetch(dap_url, timeout))
    wire = parse_dmr(dmr_text)
    bo = "<" if little else ">"

    arrays: Dict[str, Variable] = {}
    dims: Dict[str, int] = {}
    off = 0
    for v in wire["vars"]:
        if v["type"] == "Sequence":
            raise NotImplementedError(
                f"{v['name']!r} is a DAP4 Sequence — tabular records, "
                "not a grid; read it with read_dap4_sequence / "
                "dap4_sequences_to_df (or project dap4.ce= to the "
                "array variables)"
            )
        shape = tuple(s for _, s in v["dims"])
        dnames = tuple(d or v["name"] for d, _ in v["dims"])
        n = int(np.prod(shape or (1,)))
        if v["type"] == "String":
            # counted vlen elements: u64 count (response byte order) +
            # UTF-8 bytes each; the CRC covers the counted serialization
            start = off
            texts = []
            for _ in range(n):
                if off + 8 > len(data):
                    raise ValueError(
                        f"DAP4 data block truncated at {v['name']!r}: "
                        "string count header missing"
                    )
                (cnt,) = struct.unpack_from(bo + "Q", data, off)
                off += 8
                if off + cnt > len(data):
                    raise ValueError(
                        f"DAP4 data block truncated at {v['name']!r}: "
                        f"string wants {cnt} bytes"
                    )
                texts.append(bytes(data[off : off + cnt]).decode("utf-8"))
                off += cnt
            raw = data[start:off]
            arr_str = np.array(texts, dtype=str).reshape(shape)
            if checksums:
                (got,) = struct.unpack_from(bo + "I", data, off)
                off += 4
                want = zlib.crc32(raw) & 0xFFFFFFFF
                if got != want:
                    raise ValueError(
                        f"DAP4 checksum mismatch for {v['name']!r}: "
                        f"server {got:#010x} != computed {want:#010x}"
                    )
            arrays[v["name"]] = Variable(dnames, arr_str, dict(v["attrs"]))
            dims.update(zip(dnames, shape))
            continue
        dt = np.dtype(bo + _DAP4_TYPES[v["type"]])
        raw = data[off : off + n * dt.itemsize]
        if len(raw) != n * dt.itemsize:
            raise ValueError(
                f"DAP4 data block truncated at {v['name']!r}: "
                f"want {n * dt.itemsize} bytes, have {len(raw)}"
            )
        off += n * dt.itemsize
        if checksums:
            (got,) = struct.unpack_from(bo + "I", data, off)
            off += 4
            want = zlib.crc32(raw) & 0xFFFFFFFF
            if got != want:
                raise ValueError(
                    f"DAP4 checksum mismatch for {v['name']!r}: "
                    f"{got:#x} != {want:#x}"
                )
        arr = np.frombuffer(raw, dtype=dt).astype(dt.newbyteorder("=")).reshape(shape)
        arrays[v["name"]] = Variable(dnames, arr, dict(v["attrs"]))
        dims.update(zip(dnames, shape))

    from .dap2io import _decode_time_var

    coords, data_vars = {}, {}
    for name, var in arrays.items():
        if list(var.dims) == [name]:
            coords[name] = _decode_time_var(var)
        else:
            data_vars[name] = var
    return NDDataset(data_vars, coords, dict(wire["attrs"]), dims)


def dap4_schema(
    url: str, timeout: float = 60.0, dmr_text: Optional[str] = None
) -> dict:
    """Metadata-only schema from ``.dmr`` — no array payload transfers
    (the DAP4 twin of :func:`~.dap2io.dap2_schema`)."""
    dmr = parse_dmr(dmr_text or _fetch(url + ".dmr", timeout).decode())
    schema = {
        "dims": {},
        "coords": {},
        "data_vars": {},
        "attrs": dict(dmr["attrs"]),
        "chunks": {},
    }
    for v in dmr["vars"]:
        if v["type"] == "Sequence":
            # key only present when the endpoint has Sequences, so
            # grid-only schemas stay byte-identical to dap2_schema's
            # shape for the combine path
            schema.setdefault("sequences", {})[v["name"]] = {
                "fields": {
                    f["name"]: (
                        "str"
                        if f["type"] == "String"
                        else str(np.dtype(_DAP4_TYPES[f["type"]]))
                    )
                    for f in v["fields"]
                },
                "attrs": dict(v["attrs"]),
            }
            continue
        dnames = [d or v["name"] for d, _ in v["dims"]]
        shape = [s for _, s in v["dims"]]
        schema["dims"].update(zip(dnames, shape))
        role = "coords" if dnames == [v["name"]] else "data_vars"
        attrs = dict(v["attrs"])
        entry = {
            "dims": dnames,
            "shape": shape,
            "dtype": (
                "str"
                if v["type"] == "String"
                else str(np.dtype(_DAP4_TYPES[v["type"]]))
            ),
            "attrs": attrs,
            "encoding": {},
        }
        if (
            role == "coords"
            and "units" in attrs
            and " since " in str(attrs.get("units", ""))
        ):
            entry["dtype"] = "datetime64[ns]"
            entry["encoding"] = {
                "units": attrs.pop("units"),
                "calendar": attrs.pop("calendar", "standard"),
            }
        schema[role][v["name"]] = entry
    return schema


# ===========================================================================
# Sequences — counted tabular records (station / in-situ observations)
# ===========================================================================


def _decode_sequence(
    data, off: int, bo: str, fields: List[dict], checksums: bool
) -> Tuple[Dict[str, np.ndarray], int]:
    """Decode one Sequence payload at ``off``: u64 record count, then
    ``count`` records of the scalar fields in declaration order —
    atomics at native widths, Strings counted-vlen — the DAP4 counted
    serialization (same convention as vlen Strings; the optional
    per-variable CRC-32 covers the whole counted block). Returns
    ``(columns, new_offset)``."""
    start = off
    if off + 8 > len(data):
        raise ValueError("DAP4 data block truncated: sequence count missing")
    (count,) = struct.unpack_from(bo + "Q", data, off)
    off += 8
    has_str = any(f["type"] == "String" for f in fields)
    cols: Dict[str, np.ndarray] = {}
    if not has_str:
        # fixed-width records: one structured-dtype frombuffer, no
        # per-record Python loop
        rec_dt = np.dtype(
            [(f["name"], bo + _DAP4_TYPES[f["type"]]) for f in fields]
        )
        nbytes = count * rec_dt.itemsize
        if off + nbytes > len(data):
            raise ValueError(
                f"DAP4 sequence truncated: {count} records want "
                f"{nbytes} bytes"
            )
        recs = np.frombuffer(data, dtype=rec_dt, count=count, offset=off)
        off += nbytes
        for f in fields:
            cols[f["name"]] = np.ascontiguousarray(
                recs[f["name"]]
            ).astype(recs[f["name"]].dtype.newbyteorder("="))
    else:
        lists: Dict[str, list] = {f["name"]: [] for f in fields}
        for _ in range(count):
            for f in fields:
                if f["type"] == "String":
                    if off + 8 > len(data):
                        raise ValueError(
                            "DAP4 sequence truncated: string count missing"
                        )
                    (cnt,) = struct.unpack_from(bo + "Q", data, off)
                    off += 8
                    if off + cnt > len(data):
                        raise ValueError(
                            f"DAP4 sequence truncated: string wants {cnt} "
                            "bytes"
                        )
                    lists[f["name"]].append(
                        bytes(data[off : off + cnt]).decode("utf-8")
                    )
                    off += cnt
                else:
                    dt = np.dtype(bo + _DAP4_TYPES[f["type"]])
                    if off + dt.itemsize > len(data):
                        raise ValueError("DAP4 sequence truncated mid-record")
                    lists[f["name"]].append(
                        np.frombuffer(data, dtype=dt, count=1, offset=off)[0]
                    )
                    off += dt.itemsize
        for f in fields:
            if f["type"] == "String":
                cols[f["name"]] = np.array(lists[f["name"]], dtype=object)
            else:
                cols[f["name"]] = np.array(
                    lists[f["name"]], dtype=_DAP4_TYPES[f["type"]]
                )
    if checksums:
        raw = data[start:off]
        if off + 4 > len(data):
            raise ValueError(
                "DAP4 sequence truncated: CRC-32 trailer missing"
            )
        (got,) = struct.unpack_from(bo + "I", data, off)
        off += 4
        want = zlib.crc32(raw) & 0xFFFFFFFF
        if got != want:
            raise ValueError(
                f"DAP4 sequence checksum mismatch: server {got:#010x} != "
                f"computed {want:#010x}"
            )
    return cols, off


def read_dap4_sequence(
    url: str,
    name: Optional[str] = None,
    timeout: float = 60.0,
    checksums: bool = False,
    dmr_text: Optional[str] = None,
):
    """Read one DAP4 Sequence into a ``pandas.DataFrame`` — the tabular
    twin of :func:`read_dap4` (station/in-situ feeds publish
    observation records as Sequences; the reference reads such
    endpoints through the opendap engine, reference ``openers.py:
    40-47``). Projects ``dap4.ce=<name>`` so only the requested
    Sequence rides the wire. Hyperslab/field-subset constraints are a
    declared gap for now (first cut matches the verdict's
    hyperslab-free ask)."""
    import pandas as pd

    dmr = parse_dmr(dmr_text or _fetch(url + ".dmr", timeout).decode())
    seqs = {v["name"]: v for v in dmr["vars"] if v["type"] == "Sequence"}
    if not seqs:
        raise ValueError(f"{url}: DMR declares no Sequence variables")
    if name is None:
        if len(seqs) > 1:
            raise ValueError(
                f"{url}: multiple Sequences {sorted(seqs)} — pass name="
            )
        name = next(iter(seqs))
    if name not in seqs:
        raise ValueError(f"{url}: no Sequence named {name!r} ({sorted(seqs)})")
    dap_url = url + ".dap?" + "dap4.ce=" + urllib.parse.quote(name, safe="")
    if checksums:
        dap_url += "&dap4.checksum=true"
    wire_dmr_text, data, little = _read_chunked(_fetch(dap_url, timeout))
    wire = parse_dmr(wire_dmr_text)
    bo = "<" if little else ">"
    off = 0
    for v in wire["vars"]:
        if v["type"] != "Sequence":
            raise ValueError(
                f"constrained DAP4 response still carries non-Sequence "
                f"variable {v['name']!r}"
            )
        cols, off = _decode_sequence(data, off, bo, v["fields"], checksums)
        if v["name"] == name:
            return pd.DataFrame(cols)
    raise ValueError(f"DAP4 response did not include Sequence {name!r}")


#: DAP4 atomic type → Spark SQL type for Sequence fields. UInt64 maps
#: to bigint with a decode-time overflow check (Spark has no unsigned
#: 64-bit type).
_DAP4_TO_SPARK: Dict[str, str] = {
    "Int8": "tinyint",
    "Byte": "smallint",
    "UInt8": "smallint",
    "Char": "smallint",
    "Int16": "smallint",
    "UInt16": "int",
    "Int32": "int",
    "UInt32": "bigint",
    "Int64": "bigint",
    "UInt64": "bigint",
    "Float32": "float",
    "Float64": "double",
    "String": "string",
}
_SPARK_TO_NP = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "object",
}


def dap4_sequences_to_df(
    spark,
    urls: List[str],
    name: Optional[str] = None,
    timeout: float = 60.0,
    checksums: bool = False,
    include_url: bool = False,
):
    """Read the same Sequence from MANY DAP4 endpoints into one Spark
    DataFrame — one metadata-only ``.dmr`` read on the driver fixes the
    schema, then each endpoint's ``.dap`` transfer+decode runs in its
    own task (``mapInPandas`` over the url list, so a thousand station
    endpoints stream in parallel across the cluster; no rows ever
    gather on the driver)."""
    import pandas as pd

    from .session import local_df

    if not urls:
        raise ValueError("urls is empty")
    dmr_text = _fetch(urls[0] + ".dmr", timeout).decode()
    dmr = parse_dmr(dmr_text)
    seqs = {v["name"]: v for v in dmr["vars"] if v["type"] == "Sequence"}
    if name is None:
        if len(seqs) != 1:
            raise ValueError(
                f"{urls[0]}: expected exactly one Sequence, found "
                f"{sorted(seqs)} — pass name="
            )
        name = next(iter(seqs))
    if name not in seqs:
        raise ValueError(f"{urls[0]}: no Sequence named {name!r}")
    fields = seqs[name]["fields"]
    spark_types = [(f["name"], _DAP4_TO_SPARK[f["type"]]) for f in fields]
    schema = ", ".join(f"`{n}` {t}" for n, t in spark_types)
    if include_url:
        schema += ", `__url__` string"
    seq_name = name

    def _read_partition(batches):
        for pdf in batches:
            for u in pdf["url"].tolist():
                out = read_dap4_sequence(
                    u, name=seq_name, timeout=timeout, checksums=checksums
                )
                for col, styp in spark_types:
                    npt = _SPARK_TO_NP[styp]
                    vals = out[col]
                    if str(vals.dtype) == "uint64" and npt == "int64":
                        if len(vals) and vals.max() > np.iinfo(np.int64).max:
                            raise OverflowError(
                                f"{u}: UInt64 field {col!r} exceeds "
                                "bigint range"
                            )
                    out[col] = vals.astype(npt) if npt != "object" else vals
                if include_url:
                    out["__url__"] = u
                yield out if len(out) else pd.DataFrame(
                    {
                        c: pd.Series(dtype=_SPARK_TO_NP[t])
                        for c, t in spark_types
                    }
                    | ({"__url__": pd.Series(dtype="object")} if include_url else {})
                )

    urls_df = local_df(spark, [(u,) for u in urls], "url string").repartition(
        len(urls), "url"
    )
    return urls_df.mapInPandas(_read_partition, schema)


# ===========================================================================
# DMR++ → kerchunk reference scan
# ===========================================================================


def scan_dmrpp(
    text: str,
    data_url: Optional[str] = None,
) -> dict:
    """Turn a DMR++ sidecar document into the engine's virtual-Zarr
    reference dict — the NASA EOSDIS convention (a ``.dmrpp`` published
    next to an HDF5/netCDF4 archive object maps every chunk to a byte
    range, so a store scan reads ZERO bytes of the source). ``data_url``
    overrides the document's ``dmrpp:href`` (e.g. to re-point at a
    mirror). Deflate/shuffle filter chains map onto the zarr codec
    chain the HDF5 scanner emits (fletcher32 trailers verify-and-strip
    on read); other filters raise a named gate. Nothing is inlined —
    inlining would require reading the source, defeating the
    zero-read scan."""
    import json

    from .kerchunkio import ZARR_JSON, _array_meta

    root = ET.fromstring(text)
    href = data_url or root.get(f"{{{_DMRPP_NS}}}href") or root.get("href")
    if not href:
        raise MissingDmrppHref(
            "DMR++ has no dmrpp:href and no data_url given"
        )
    dmr = parse_dmr(text)
    refs: Dict[str, object] = {}
    group_attrs = {
        k: v for k, v in dmr["attrs"].items() if not k.startswith("dmrpp")
    }
    refs[ZARR_JSON] = json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": group_attrs}
    )
    for v in dmr["vars"]:
        shape = [s for _, s in v["dims"]]
        dnames = [d or v["name"] for d, _ in v["dims"]]
        if v["type"] == "String":
            _string_var_refs(refs, v, shape, dnames, href)
            continue
        dtype = np.dtype(_DAP4_TYPES[v["type"]])
        ck = v["chunks"]
        from .zarrio import _DTYPE_TO_ZARR

        zarr_type = _DTYPE_TO_ZARR[str(dtype)]
        if ck is None and v["compact"] is not None:
            _inline_var_refs(
                refs, v, shape, dnames, zarr_type, v["compact"],
                int(np.prod(shape or [1], dtype=np.int64)) * dtype.itemsize,
            )
            continue
        if ck is None:
            raise ValueError(
                f"{v['name']}: DMR++ variable without dmrpp:chunks — "
                "not a data-bearing sidecar"
            )
        chunk_shape = ck["chunk_shape"] or shape or [1]
        meta = _array_meta(
            shape or [1],
            chunk_shape,
            zarr_type,
            dict(v["attrs"]),
            dnames or [v["name"]],
        )
        meta["codecs"] = _dmrpp_codec_chain(
            v["name"], ck["filters"], dtype.itemsize
        )
        refs[f"{v['name']}/{ZARR_JSON}"] = json.dumps(meta)
        _chunk_refs(refs, v["name"], shape, chunk_shape, ck["chunks"], href)
    return {"version": 1, "refs": refs}


def _dmrpp_codec_chain(name: str, filters: List[str], itemsize: int) -> list:
    """The HDF5 scanner's codec chain for a DMR++ filter list, so the
    reference store decodes DMR++-scanned chunks with the same chain."""
    from .hdf5io import _DEFLATE, _FLETCHER32, _SHUFFLE, hdf5_codec_chain

    # the compressionType names of HDF5's built-in filters that need no
    # client data; any other name is refused by the mapping
    ids = {"deflate": _DEFLATE, "shuffle": _SHUFFLE, "fletcher32": _FLETCHER32}
    return hdf5_codec_chain([(ids.get(f, f), ()) for f in filters], itemsize, name)


def _chunk_refs(refs, name, shape, chunk_shape, chunks, href) -> None:
    grid = [
        max(1, -(-full // c)) for full, c in zip(shape or [1], chunk_shape)
    ]
    for chunk in chunks:
        pos = chunk["pos"] or [0] * len(chunk_shape)
        idx = [p // c for p, c in zip(pos, chunk_shape)]
        for i, g in zip(idx, grid):
            if i >= g:
                raise ValueError(f"{name}: chunk position {pos} outside array")
        key = "/".join([name, "c"] + [str(i) for i in idx])
        refs[key] = [href, chunk["offset"], chunk["nbytes"]]


def _inline_var_refs(
    refs, v, shape, dnames, zarr_type, buf: bytes, expect_nbytes: int
) -> None:
    """One whole-array inline chunk (compact layout / vlsa values)."""
    import base64
    import json

    from .kerchunkio import ZARR_JSON, _array_meta

    if len(buf) != expect_nbytes:
        raise ValueError(
            f"{v['name']}: inline data is {len(buf)} bytes, expected "
            f"{expect_nbytes} for shape {shape or [1]}"
        )
    meta = _array_meta(
        shape or [1],
        shape or [1],
        zarr_type,
        dict(v["attrs"]),
        dnames or [v["name"]],
    )
    refs[f"{v['name']}/{ZARR_JSON}"] = json.dumps(meta)
    key = "/".join([v["name"], "c"] + ["0"] * len(shape or [1]))
    refs[key] = "base64:" + base64.b64encode(buf).decode("ascii")


def _string_var_refs(refs, v, shape, dnames, href) -> None:
    """String-variable DMR++ branches (NASA Earthdata sidecars routinely
    carry String label/station variables — the reference reads them
    transparently through the netcdf4 engine, reference ``openers.py:
    40-47``):

    - ``dmrpp:FixedLengthStringArray`` + ``dmrpp:chunks``: the chunk
      bytes are ``string_length``-wide records — map to the zarr v3 raw
      data type ``r{8*length}`` (decoded as numpy ``|S{length}``, which
      strips trailing NULs on access, matching HDF5 null-pad reads).
    - ``dmrpp:vlsa``: variable-length values inlined in the sidecar —
      packed here into one NUL-padded fixed-width inline chunk.
    - ``dmrpp:compact`` (+ FixedLengthStringArray for the width): the
      raw fixed-width buffer, inlined.
    - vlen strings WITH chunks stay a named refusal: the chunk bytes
      are HDF5 global-heap references, unreadable without parsing the
      source file itself (which the zero-read scan must not do).
    """
    import json

    from .kerchunkio import ZARR_JSON, _array_meta

    n = int(np.prod(shape or [1], dtype=np.int64))
    flsa = v["flsa"]
    if v["vlsa"] is not None:
        vals = [s.encode("utf-8") for s in v["vlsa"]]
        if len(vals) != n:
            raise ValueError(
                f"{v['name']}: dmrpp:vlsa carries {len(vals)} values for "
                f"shape {shape or [1]} ({n} elements)"
            )
        width = max([len(b) for b in vals] or [0]) or 1
        for b in vals:
            if b.endswith(b"\x00"):
                # NUL-padding is the reversible encoding ONLY when real
                # values never end in NUL (always true for text labels)
                raise ValueError(
                    f"{v['name']}: vlsa value ends in NUL — not "
                    "representable as a NUL-padded fixed-width record"
                )
        buf = b"".join(b.ljust(width, b"\x00") for b in vals)
        _inline_var_refs(
            refs, v, shape, dnames, f"r{8 * width}", buf, n * width
        )
        return
    if flsa is not None and v["compact"] is not None:
        _inline_var_refs(
            refs, v, shape, dnames, f"r{8 * flsa['length']}", v["compact"],
            n * flsa["length"],
        )
        return
    if flsa is not None and v["chunks"] is not None:
        ck = v["chunks"]
        chunk_shape = ck["chunk_shape"] or shape or [1]
        meta = _array_meta(
            shape or [1],
            chunk_shape,
            f"r{8 * flsa['length']}",
            dict(v["attrs"]),
            dnames or [v["name"]],
        )
        meta["codecs"] = _dmrpp_codec_chain(
            v["name"], ck["filters"], flsa["length"]
        )
        refs[f"{v['name']}/{ZARR_JSON}"] = json.dumps(meta)
        _chunk_refs(refs, v["name"], shape, chunk_shape, ck["chunks"], href)
        return
    raise NotImplementedError(
        f"{v['name']}: DMR++ String variable carries neither "
        "FixedLengthStringArray, vlsa, nor compact data — vlen-string "
        "chunks are HDF5 global-heap references, unreadable from byte "
        "ranges alone"
    )


# ===========================================================================
# DAP4 server (test + export surface)
# ===========================================================================


def _seq_field_type(arr: np.ndarray) -> str:
    if arr.dtype.kind in ("U", "S", "O"):
        return "String"
    dap_t = _NP_TO_DAP4.get(str(arr.dtype))
    if dap_t is None:
        raise NotImplementedError(
            f"DAP4 server: sequence field dtype {arr.dtype} unsupported"
        )
    return dap_t


def _dmr_text(
    ds: NDDataset,
    name: str,
    names: Optional[List[str]] = None,
    sequences: Optional[Dict[str, Dict[str, np.ndarray]]] = None,
) -> str:
    lines = [
        f'<Dataset xmlns="{_DAP4_NS}" dapVersion="4.0" dmrVersion="1.0" '
        f'name="{name}">'
    ]
    for d, size in ds.sizes.items():
        lines.append(f'    <Dimension name="{d}" size="{int(size)}"/>')
    from .dap2io import _server_attrs

    for vname, var in ds.variables.items():
        if names is not None and vname not in names:
            continue
        dap_t, data = _dap4_type_for(var)
        lines.append(f'    <{dap_t} name="{vname}">')
        for d in var.dims:
            lines.append(f'        <Dim name="/{d}"/>')
        for k, val in _server_attrs(var).items():
            typ = "String" if isinstance(val, str) else (
                "Float64" if isinstance(val, float) else "Int32"
            )
            lines.append(
                f'        <Attribute name="{k}" type="{typ}">'
                f"<Value>{val}</Value></Attribute>"
            )
        lines.append(f"    </{dap_t}>")
    for sname, cols in (sequences or {}).items():
        lines.append(f'    <Sequence name="{sname}">')
        for cname, arr in cols.items():
            lines.append(
                f'        <{_seq_field_type(np.asarray(arr))} '
                f'name="{cname}"/>'
            )
        lines.append("    </Sequence>")
    for k, val in (ds.attrs or {}).items():
        typ = "String" if isinstance(val, str) else (
            "Float64" if isinstance(val, float) else "Int32"
        )
        lines.append(
            f'    <Attribute name="{k}" type="{typ}">'
            f"<Value>{val}</Value></Attribute>"
        )
    lines.append("</Dataset>")
    return "\n".join(lines) + "\n"


def _dap4_type_for(var: Variable) -> Tuple[str, np.ndarray]:
    from .dap2io import _dap_type_for  # reuses cf-datetime encoding

    data = np.asarray(var.data)
    if data.dtype.kind == "M":
        _, data = _dap_type_for(var)  # ints since epoch per cf encoding
    if data.dtype.kind in ("U", "S", "O"):
        return "String", data.astype(str)
    dap_t = _NP_TO_DAP4.get(str(data.dtype))
    if dap_t is None:
        raise NotImplementedError(f"DAP4 server: dtype {data.dtype} unsupported")
    return dap_t, data


def _chunk(flags: int, payload: bytes) -> bytes:
    return struct.pack(">I", (flags << 24) | len(payload)) + payload


def _dap_response(
    ds: NDDataset,
    name: str,
    projections: Optional[List[str]],
    checksums: bool,
    sequences: Optional[Dict[str, Dict[str, np.ndarray]]] = None,
) -> bytes:
    from .dap2io import _apply_constraints

    sequences = sequences or {}
    if projections:
        array_proj = [
            p for p in projections if p.split("[", 1)[0] not in sequences
        ]
        selected_seqs = [p for p in projections if p in sequences]
        # a hyperslab/suffix-qualified Sequence projection matches the
        # sequences dict by base name but not exactly: without this it
        # would fall through BOTH branches and yield a silently-empty
        # response (r12 review finding)
        for p in projections:
            if p not in selected_seqs and p.split("[", 1)[0] in sequences:
                raise ValueError(
                    f"projection {p!r}: hyperslab/field constraints on a "
                    "DAP4 Sequence are not supported — project the bare "
                    "sequence name"
                )
    else:
        array_proj = None
        selected_seqs = list(sequences)
    names = None
    if array_proj:
        ds, names = _apply_constraints(ds, array_proj)
    elif projections:
        names = []  # sequence-only projection: no array payload at all
    dmr = _dmr_text(
        ds, name, names, {k: sequences[k] for k in selected_seqs}
    ).encode()
    body = bytearray()
    for vname, var in ds.variables.items():
        if names is not None and vname not in names:
            continue
        dap_t, data = _dap4_type_for(var)
        if dap_t == "String":
            # counted vlen serialization: u64 LE count + UTF-8 bytes
            # per element (the response's byte-order flag is LE)
            raw = b"".join(
                struct.pack("<Q", len(enc)) + enc
                for enc in (
                    s.encode("utf-8") for s in np.ravel(data).tolist()
                )
            )
        else:
            raw = np.ascontiguousarray(data).astype(
                data.dtype.newbyteorder("<")
            ).tobytes()
        body += raw
        if checksums:
            body += struct.pack("<I", zlib.crc32(raw) & 0xFFFFFFFF)
    for sname in selected_seqs:
        cols = {c: np.asarray(a) for c, a in sequences[sname].items()}
        lens = {len(a) for a in cols.values()}
        if len(lens) > 1:
            raise ValueError(
                f"sequence {sname!r}: ragged columns {sorted(lens)}"
            )
        count = lens.pop() if lens else 0
        raw = bytearray(struct.pack("<Q", count))
        specs = []
        for c, a in cols.items():
            if a.dtype.kind in ("U", "S", "O"):
                specs.append((None, [s.encode("utf-8") for s in a.astype(str)]))
            else:
                specs.append(
                    (a.dtype.newbyteorder("<"), np.ascontiguousarray(a))
                )
        for i in range(count):
            for dt, a in specs:
                if dt is None:
                    raw += struct.pack("<Q", len(a[i])) + a[i]
                else:
                    raw += np.asarray(a[i]).astype(dt).tobytes()
        body += raw
        if checksums:
            body += struct.pack("<I", zlib.crc32(bytes(raw)) & 0xFFFFFFFF)
    # DMR chunk, then data in (possibly several) chunks, last flagged
    if not body:
        return _chunk(_CHUNK_LITTLE_ENDIAN | _CHUNK_LAST, dmr)
    out = _chunk(_CHUNK_LITTLE_ENDIAN, dmr)
    step = 1 << 20
    for i in range(0, len(body), step):
        piece = bytes(body[i : i + step])
        last = i + step >= len(body)
        out += _chunk(
            _CHUNK_LITTLE_ENDIAN | (_CHUNK_LAST if last else 0), piece
        )
    return bytes(out)


class Dap4Server:
    """Threaded DAP4 endpoint publishing NDDatasets (the test twin of
    :class:`~.dap2io.Dap2Server`): serves ``.dmr`` and ``.dap`` with
    ``dap4.ce`` projections/hyperslabs and optional checksums."""

    def __init__(
        self,
        datasets: Dict[str, NDDataset],
        sequences: Optional[Dict[str, Dict[str, Dict[str, np.ndarray]]]] = None,
    ):
        """``sequences`` maps dataset name → {sequence name → {field →
        1-D array}} — served alongside (or instead of) that dataset's
        grid variables."""
        self.datasets = dict(datasets)
        self.sequences = {k: dict(v) for k, v in (sequences or {}).items()}
        for dsname in self.sequences:
            self.datasets.setdefault(dsname, NDDataset())
        srv = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):  # noqa: N802
                parsed = urllib.parse.urlparse(self.path)
                path = parsed.path.lstrip("/")
                query = urllib.parse.parse_qs(parsed.query)
                base, dot, ext = path.rpartition(".")
                if dot != "." or ext not in ("dmr", "dap"):
                    self.send_error(404, "expected .dmr or .dap")
                    return
                ds = srv.datasets.get(base)
                if ds is None:
                    self.send_error(404, f"no dataset {base!r}")
                    return
                try:
                    if ext == "dmr":
                        payload = _dmr_text(
                            ds, base, sequences=srv.sequences.get(base)
                        ).encode()
                        ctype = "application/vnd.opendap.dap4.dataset-metadata+xml"
                    else:
                        ce = query.get("dap4.ce", [None])[0]
                        projections = ce.split(";") if ce else None
                        checksums = (
                            query.get("dap4.checksum", ["false"])[0] == "true"
                        )
                        payload = _dap_response(
                            ds, base, projections, checksums,
                            sequences=srv.sequences.get(base),
                        )
                        ctype = "application/vnd.opendap.dap4.data"
                except Exception as e:  # constraint errors → DAP error chunk
                    if ext == "dap":
                        payload = _chunk(
                            _CHUNK_ERROR | _CHUNK_LAST, str(e).encode()
                        )
                        ctype = "application/vnd.opendap.dap4.data"
                    else:
                        self.send_error(400, str(e))
                        return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def url_for(self, name: str) -> str:
        return f"{self.base_url}/{name}"

    def __enter__(self) -> "Dap4Server":
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


def serve_ndsets_dap4(
    datasets: Dict[str, NDDataset],
    sequences: Optional[Dict[str, Dict[str, Dict[str, np.ndarray]]]] = None,
) -> Dap4Server:
    """Start a local DAP4 server for the given datasets (and optional
    Sequences)."""
    return Dap4Server(datasets, sequences=sequences)


# ===========================================================================
# protocol negotiation — the opendap FileType row serves BOTH protocols
# ===========================================================================

#: url → "dap4" | "dap2", filled by one .dmr probe per process
_PROTOCOL_CACHE: Dict[str, str] = {}


def _probe_dap4(url: str, timeout: float) -> Tuple[str, Optional[str]]:
    """One ``GET <url>.dmr`` probe → ``(protocol, dmr_text_or_None)``.
    Only definitive 4xx answers (404/400/... from DAP2-only
    THREDDS/Hyrax) mean DAP2; transient statuses (408/429/5xx) and
    connection failures PROPAGATE — a briefly-unavailable DAP4 server
    must not get pinned to the wrong protocol for the process lifetime.
    A 200 whose body is not a parseable DMR (a proxy answering html for
    unknown suffixes) also means DAP2. The fetched DMR rides back so
    the caller's metadata read does not re-request it."""
    import urllib.error

    try:
        text = _fetch(url + ".dmr", timeout).decode(errors="replace")
    except urllib.error.HTTPError as e:
        if 400 <= e.code < 500 and e.code not in (408, 429):
            return "dap2", None
        raise
    try:
        parse_dmr(text)
    except Exception:
        return "dap2", None
    return "dap4", text


def open_dap(
    url: str,
    projection: Optional[List[str]] = None,
    isel: Optional[Dict[str, slice]] = None,
    protocol: str = "auto",
    timeout: float = 60.0,
    checksums: bool = False,
) -> NDDataset:
    """Protocol-negotiating OPeNDAP open — the single entry point the
    ``FileType.opendap`` row routes through (the reference gets this
    from the netCDF4-C DAP client, reference ``openers.py:40-47``)."""
    dmr_text = None
    if protocol == "auto":
        protocol = _PROTOCOL_CACHE.get(url)
        if protocol is None:
            protocol, dmr_text = _probe_dap4(url, min(timeout, 30.0))
            _PROTOCOL_CACHE[url] = protocol
    if protocol == "dap4":
        return read_dap4(
            url,
            projection,
            timeout,
            isel=isel,
            checksums=checksums,
            dmr_text=dmr_text,
        )
    if protocol == "dap2":
        from .dap2io import read_dap2

        return read_dap2(url, projection, timeout, isel=isel)
    raise ValueError(f"unknown DAP protocol {protocol!r}")


def dap_schema(url: str, protocol: str = "auto", timeout: float = 60.0) -> dict:
    """Protocol-negotiating metadata-only schema read (the probe's DMR
    body is reused — one request serves negotiation AND the schema)."""
    dmr_text = None
    if protocol == "auto":
        protocol = _PROTOCOL_CACHE.get(url)
        if protocol is None:
            protocol, dmr_text = _probe_dap4(url, min(timeout, 30.0))
            _PROTOCOL_CACHE[url] = protocol
    if protocol == "dap4":
        return dap4_schema(url, timeout, dmr_text=dmr_text)
    from .dap2io import dap2_schema

    return dap2_schema(url, timeout)
