"""Kerchunk-style virtual Zarr references: scan, combine, read, write.

Parity layer for the reference's kerchunk branch (``openers.py:137-204``
scanning, ``transforms.py:428-554`` combining, ``writers.py:132-195``
writing). The kerchunk package is not available here, so the engine defines
its own reference model — a dict of Zarr-v3 store keys to either inline
bytes or ``[url, offset, length]`` byte ranges:

    {"version": 1, "refs": {"zarr.json": "<json>",
                            "foo/zarr.json": "<json>",
                            "foo/c/0/0/0": ["file:///path/f.npz", 1234, 8192]}}

Because the keys are genuine Zarr v3 keys, a :class:`ReferenceStore` makes a
combined reference directly readable through :func:`~.dsio.open_zarr_group`
— a real "virtual Zarr" exactly like kerchunk's ReferenceFileSystem.
"""

from __future__ import annotations

import base64
import io
import json
import os
import struct
import zipfile
from typing import Dict, Iterator, List, Optional

import numpy as np

from .storage import is_object_url, open_binary, open_output_stream, ref_url, url_range_get
from .zarrio import _DTYPE_TO_ZARR, Store, ZARR_JSON

RefValue = object  # str (inline) | [url, offset, length]


def _inline(data: bytes, threshold: int) -> Optional[str]:
    if len(data) <= threshold:
        try:
            return data.decode("ascii")
        except UnicodeDecodeError:
            return "base64:" + base64.b64encode(data).decode("ascii")
    return None


def _array_meta(
    shape, chunk_shape, data_type: str, attributes: dict, dimension_names
) -> dict:
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [int(s) for s in shape],
        "data_type": data_type,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": [int(c) for c in chunk_shape]},
        },
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        "attributes": attributes,
        "dimension_names": list(dimension_names),
    }


# ---------------------------------------------------------------------------
# scanners
# ---------------------------------------------------------------------------


def _zip_data_offset(path: str, info: zipfile.ZipInfo) -> int:
    """Byte offset of a STORED zip member's payload: local header offset +
    30-byte fixed header + actual name/extra lengths (which can differ from
    the central directory's)."""
    with open(path, "rb") as f:
        f.seek(info.header_offset)
        hdr = f.read(30)
        if hdr[:4] != b"PK\x03\x04":
            raise ValueError("bad zip local header")
        name_len, extra_len = struct.unpack("<HH", hdr[26:30])
        return info.header_offset + 30 + name_len + extra_len


def _npy_payload_offset(path: str, data_offset: int) -> int:
    """Offset of the raw array bytes inside a .npy payload (skip the npy
    magic + header)."""
    with open(path, "rb") as f:
        f.seek(data_offset)
        magic = f.read(8)
        if magic[:6] != b"\x93NUMPY":
            raise ValueError("not an npy payload")
        major = magic[6]
        if major == 1:
            (hlen,) = struct.unpack("<H", f.read(2))
            return data_offset + 10 + hlen
        (hlen,) = struct.unpack("<I", f.read(4))
        return data_offset + 12 + hlen


def scan_npz(path: str, inline_threshold: int = 300) -> dict:
    """Scan an engine-native npz container into a virtual-Zarr reference
    (analog of kerchunk's ``SingleHdf5ToZarr``, reference
    ``openers.py:137-204``). Each variable becomes a single-chunk zarr array
    whose chunk is a byte range into the npz file."""
    from .dsio import npz_schema

    schema = npz_schema(path)
    url = ref_url(path)
    refs: Dict[str, RefValue] = {}
    group_meta = {"zarr_format": 3, "node_type": "group", "attributes": dict(schema["attrs"])}
    non_dim_coords = [
        n for n, vs in schema["coords"].items() if list(vs["dims"]) != [n]
    ]
    if non_dim_coords:
        group_meta["attributes"]["coordinates"] = " ".join(sorted(non_dim_coords))
    refs[ZARR_JSON] = json.dumps(group_meta)

    with zipfile.ZipFile(path) as zf:
        infos = {i.filename: i for i in zf.infolist()}
    for role in ("coords", "data_vars"):
        for name, vs in schema[role].items():
            member = f"{role}::{name}.npy"
            info = infos[member]
            if info.compress_type != zipfile.ZIP_STORED:
                raise ValueError("npz member is compressed; cannot byte-range reference")
            data_off = _zip_data_offset(path, info)
            payload_off = _npy_payload_offset(path, data_off)
            dtype = vs["dtype"]
            attributes = dict(vs["attrs"])
            if dtype.startswith("datetime64"):
                # the npz container stores datetimes as raw int64 nanoseconds
                # (see dsio.write_npz), so the virtual store must declare
                # those storage units — not the original CF encoding
                attributes["units"] = "nanoseconds since 1970-01-01"
                attributes["calendar"] = "proleptic_gregorian"
                dtype = "int64"
            elif "units" in vs.get("encoding", {}) and "calendar" in vs.get("encoding", {}):
                # non-standard-calendar time: stored ints ARE the CF
                # encoding — declare it so readers keep the metadata
                attributes["units"] = vs["encoding"]["units"]
                attributes["calendar"] = vs["encoding"]["calendar"]
            meta = _array_meta(
                vs["shape"], vs["shape"] or [1], _DTYPE_TO_ZARR[dtype], attributes, vs["dims"]
            )
            refs[f"{name}/{ZARR_JSON}"] = json.dumps(meta)
            nbytes = int(np.prod(vs["shape"] or [1])) * np.dtype(dtype).itemsize
            chunk_key = "/".join([name, "c"] + ["0"] * len(vs["shape"]))
            inline = None
            if nbytes <= inline_threshold:
                with open(path, "rb") as f:
                    f.seek(payload_off)
                    inline = _inline(f.read(nbytes), inline_threshold)
            refs[chunk_key] = inline if inline is not None else [url, payload_off, nbytes]
    return {"version": 1, "refs": refs}


def scan_zarr_store(store, base_url: str, inline_threshold: int = 300) -> dict:
    """Scan a Zarr store through its :class:`~.zarrio.Store` interface —
    the object-store variant of :func:`scan_zarr` (s3 CAN list keys, so
    a remote store scans in place: one listing + one GET per metadata
    doc; chunk objects become whole-object references at ``base_url``)."""
    base = base_url.rstrip("/")
    refs: Dict[str, RefValue] = {}
    for key, size in store.list_prefix_with_sizes(""):
        if key.rsplit("/", 1)[-1] == ZARR_JSON:
            refs[key] = store.get(key).decode()
            continue
        if size <= inline_threshold:
            refs[key] = _inline(store.get(key), inline_threshold)
        else:
            refs[key] = [f"{base}/{key}", 0, size]
    return {"version": 1, "refs": refs}


def scan_zarr(path: str, inline_threshold: int = 300) -> dict:
    """Scan a (real) Zarr v3 store into a reference: metadata inlined, chunk
    objects referenced whole-file."""
    refs: Dict[str, RefValue] = {}
    root = os.path.abspath(path)
    for dirpath, _, files in os.walk(root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            key = os.path.relpath(full, root)
            size = os.path.getsize(full)
            if fn == ZARR_JSON:
                with open(full, "rb") as f:
                    refs[key] = f.read().decode()
            elif size <= inline_threshold:
                with open(full, "rb") as f:
                    refs[key] = _inline(f.read(), inline_threshold)
            else:
                refs[key] = [f"file://{full}", 0, size]
    return {"version": 1, "refs": refs}


# ---------------------------------------------------------------------------
# reference store (read side)
# ---------------------------------------------------------------------------


class ReferenceStore(Store):
    """Read-only :class:`~.zarrio.Store` over a reference dict — the engine's
    ReferenceFileSystem."""

    def __init__(self, refs: dict):
        self.refs = refs["refs"] if "refs" in refs else refs

    def get(self, key: str) -> bytes:
        val = self.refs[key]
        if isinstance(val, str):
            if val.startswith("base64:"):
                return base64.b64decode(val[7:])
            return val.encode()
        url, offset, length = val
        # chunk-lazy: one range read per chunk — over http or an object
        # store a read touches O(chunk) bytes of the source, never the file
        return url_range_get(url, int(offset), int(length))

    def exists(self, key: str) -> bool:
        return key in self.refs

    def list_prefix(self, prefix: str) -> Iterator[str]:
        for key in self.refs:
            if key.startswith(prefix):
                yield key

    def put(self, key: str, value: bytes) -> None:
        raise NotImplementedError("ReferenceStore is read-only")

    def rm_prefix(self, prefix: str) -> None:
        raise NotImplementedError("ReferenceStore is read-only")


def open_reference_dataset(path_or_refs, load: bool = True):
    """Open a reference json file / dict as an NDDataset. Accepts both the
    engine's own v3-style references and real-world kerchunk version-1
    files (``{"version": 1, "refs": {".zgroup": ..., "var/.zarray": ...,
    "var/0.0": [url, off, len]}}``) — the zarr-v2 metadata inside rides
    the same v2→v3 translation as on-disk v2 stores."""
    from .dsio import open_zarr_group

    if isinstance(path_or_refs, str):
        with open_binary(path_or_refs) as f:
            path_or_refs = json.load(f)
    if isinstance(path_or_refs, dict) and (
        path_or_refs.get("templates") or path_or_refs.get("gen")
    ):
        raise NotImplementedError(
            "kerchunk 'templates'/'gen' URL substitution is not supported; "
            "expand the references to plain [url, offset, length] entries"
        )
    # load=False: data vars become LazyArray views whose materialization
    # is a byte-range read of exactly the needed chunks of the SOURCE
    # files — the chunk-lazy open the reference-shuffle write path uses
    return open_zarr_group(ReferenceStore(path_or_refs), load=load)


# ---------------------------------------------------------------------------
# combine (MultiZarrToZarr-lite)
# ---------------------------------------------------------------------------


def combine_references(
    ref_sets: List[dict],
    concat_dims: List[str],
    identical_dims: Optional[List[str]] = None,
    preprocess: Optional[callable] = None,
) -> dict:
    """Combine per-file references along one concat dimension into a single
    virtual store (the engine's ``MultiZarrToZarr.translate()``; reference
    ``transforms.py:428-554``).

    ``ref_sets`` must be ordered by concat position (the pipeline guarantees
    this via its position-bucketed ordered reduction). Per-file arrays become
    consecutive chunks along the concat axis; per-file chunk shapes must be
    uniform (except the final file) — same regular-grid constraint real
    kerchunk has.

    ``preprocess`` (the ``mzz_kwargs['preprocess']`` hook of reference
    ``transforms.py:438-447``) rewrites each per-file refs mapping
    (``{key: value}``) before the merge — e.g. drop a variable or patch
    metadata. Applied once per input ref set.
    """
    if len(concat_dims) != 1:
        raise NotImplementedError(
            "combine_references merges along exactly one concat dim per "
            "call (same limit as kerchunk MultiZarrToZarr); two-dim "
            "patterns nest it via transforms.combine_references_df / "
            "write_combined_reference (outer slices -> inner combine -> "
            "outer combine); for 3+ dims use the Zarr path (store_to_zarr)"
        )
    concat_dim = concat_dims[0]
    if not ref_sets:
        raise ValueError("no references to combine")
    if preprocess is not None:
        ref_sets = [
            {**rs, "refs": preprocess(dict(rs["refs"]))}
            if "refs" in rs
            else preprocess(dict(rs))
            for rs in ref_sets
        ]

    out: Dict[str, RefValue] = {}
    var_meta: Dict[str, dict] = {}
    var_chunk_offset: Dict[str, int] = {}

    for n, rs in enumerate(ref_sets):
        refs = rs["refs"] if "refs" in rs else rs
        for key, val in refs.items():
            if key == ZARR_JSON:
                out.setdefault(key, val)
                continue
            parts = key.split("/")
            name = parts[0]
            if parts[-1] == ZARR_JSON:
                meta = json.loads(val) if isinstance(val, str) else val
                dims = meta.get("dimension_names") or []
                if concat_dim not in dims:
                    out.setdefault(key, json.dumps(meta))
                    var_meta.setdefault(name, meta)
                elif name not in var_meta:
                    var_meta[name] = meta
                    var_chunk_offset[name] = 0
                else:
                    prev = var_meta[name]
                    axis = dims.index(concat_dim)
                    prev["shape"][axis] += meta["shape"][axis]
                continue
            # chunk key: name/c/i/j/...
            meta = var_meta.get(name)
            if meta is None or concat_dim not in (meta.get("dimension_names") or []):
                out.setdefault(key, val)
                continue
            axis = (meta["dimension_names"]).index(concat_dim)
            idx = [int(p) for p in parts[2:]]
            idx[axis] += var_chunk_offset[name]
            out["/".join([name, "c"] + [str(i) for i in idx])] = val
        # advance chunk offsets by this file's chunk count along the axis
        for name, meta in var_meta.items():
            dims = meta.get("dimension_names") or []
            if concat_dim in dims and name in var_chunk_offset:
                refs_n = rs["refs"] if "refs" in rs else rs
                mkey = f"{name}/{ZARR_JSON}"
                if mkey in refs_n:
                    this_meta = json.loads(refs_n[mkey]) if isinstance(refs_n[mkey], str) else refs_n[mkey]
                    axis = dims.index(concat_dim)
                    csize = this_meta["chunk_grid"]["configuration"]["chunk_shape"][axis]
                    grid_csize = meta["chunk_grid"]["configuration"]["chunk_shape"][axis]
                    if csize != grid_csize:
                        # a ragged FINAL file may declare its short extent as
                        # its chunk size (one chunk, padded at decode time);
                        # anything else cannot tile the grid
                        final_short_chunk = (
                            n == len(ref_sets) - 1
                            and this_meta["shape"][axis] == csize
                            and csize <= grid_csize
                        )
                        if not final_short_chunk:
                            raise ValueError(
                                f"combine_references: {name!r} file {n} has chunk "
                                f"size {csize} along {concat_dim!r} but the grid "
                                f"(from file 0) uses {grid_csize}; per-file chunk "
                                "shapes must be uniform (only the final file may "
                                "end with one short chunk). Re-scan with matching "
                                "chunks or use the Zarr (StoreToZarr) path, which "
                                "rechunks."
                            )
                    if n < len(ref_sets) - 1 and csize and this_meta["shape"][axis] % csize:
                        raise ValueError(
                            f"combine_references: {name!r} file {n} spans "
                            f"{this_meta['shape'][axis]} along {concat_dim!r}, "
                            f"not a multiple of the chunk size {csize}; only "
                            "the final file may end mid-chunk (virtual concat "
                            "cannot re-chunk). Use the Zarr (StoreToZarr) "
                            "path, which rechunks."
                        )
                    nchunks = -(-this_meta["shape"][axis] // csize) if csize else 0
                    var_chunk_offset[name] += nchunks

    for name, meta in var_meta.items():
        out[f"{name}/{ZARR_JSON}"] = json.dumps(meta)
    return {"version": 1, "refs": out}


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


def write_reference_json(refs: dict, outpath: str) -> str:
    """Serialize combined references to ``reference.json`` (reference
    ``writers.py:174-179``). Local paths or ``s3://`` urls."""
    with open_output_stream(outpath) as f:
        f.write(json.dumps(refs).encode("utf-8"))
    return outpath


def write_reference_parquet(refs: dict, outpath: str, refs_per_component: int = 10000) -> str:
    """Serialize combined references to a parquet directory (analog of
    fsspec's ``LazyReferenceMapper``; reference ``writers.py:150-172``):
    columns (key, inline_value, url, offset, size), ``refs_per_component``
    rows per row-group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = refs["refs"] if "refs" in refs else refs
    keys, inlines, urls, offsets, sizes = [], [], [], [], []
    for k, v in sorted(table.items()):
        keys.append(k)
        if isinstance(v, str):
            inlines.append(v)
            urls.append(None)
            offsets.append(None)
            sizes.append(None)
        else:
            inlines.append(None)
            urls.append(v[0])
            offsets.append(int(v[1]))
            sizes.append(int(v[2]))
    t = pa.table(
        {
            "key": pa.array(keys, pa.string()),
            "inline_value": pa.array(inlines, pa.string()),
            "url": pa.array(urls, pa.string()),
            "offset": pa.array(offsets, pa.int64()),
            "size": pa.array(sizes, pa.int64()),
        }
    )
    with open_output_stream(os.path.join(outpath, "refs.parquet")) as f:
        pq.write_table(t, f, row_group_size=refs_per_component)
    return outpath


def read_reference_parquet(path: str) -> dict:
    import pyarrow.parquet as pq

    src = os.path.join(path, "refs.parquet")
    if is_object_url(path):
        with open_binary(src) as f:
            src = io.BytesIO(f.read())
    t = pq.read_table(src)
    refs: Dict[str, RefValue] = {}
    for row in t.to_pylist():
        if row["inline_value"] is not None:
            refs[row["key"]] = row["inline_value"]
        else:
            refs[row["key"]] = [row["url"], row["offset"], row["size"]]
    return {"version": 1, "refs": refs}
