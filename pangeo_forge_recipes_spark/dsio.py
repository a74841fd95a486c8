"""Dataset ⇄ storage bridge: Zarr template init, region writes, readers.

Ports the semantics of reference ``pangeo_forge_recipes/writers.py:15-129``
(region computation, chunk-alignment assertion, coordinate-ownership dedup),
``aggregation.py:227-281`` (schema → template → zarr init) and
``rechunking.py:245-283`` (dimension-coordinate consolidation) onto the
engine's own :mod:`zarrio` implementation.

Also defines the engine-native ``.npz`` file container (numpy zip + JSON
metadata) used as a portable source format, since no netCDF library exists
in this environment.

CF-style time handling: ``datetime64[ns]`` variables are stored as int64
with ``units``/``calendar`` attributes and decoded back on read (the
reference delegates the same to xarray's CF coder; cftime object calendars
— reference ``aggregation.py:193-197`` — are unsupported without cftime and
raise).
"""

from __future__ import annotations

import io
import json
from typing import Dict, Optional, Tuple

import numpy as np

from .aggregation import XarraySchema, determine_target_chunks
from .cfcalendar import is_standard_calendar, is_supported_calendar
from .ndset import (
    LazyArray,
    NDDataset,
    Variable,
    decode_cf_datetime,
    encode_cf_datetime,
)
from .types import CombineOp, Index
from .zarrio import Store, ZarrGroup, _store_for, create_group, open_group

_DEFAULT_TIME_UNITS = "nanoseconds since 1970-01-01"

# ---------------------------------------------------------------------------
# schema → zarr template
# ---------------------------------------------------------------------------


def _zarr_spec_for(var_schema: dict) -> Tuple[str, dict, object]:
    """Map a variable schema to (zarr dtype, extra attrs, fill value)."""
    dtype = var_schema["dtype"]
    if dtype == "str" or str(dtype).lstrip("<>=|").startswith("U"):
        # np.dtype("str") is the ZERO-width '<U0': templating an array
        # from it would silently truncate every value on write. String
        # variables (e.g. a DAP4 station coordinate) have no zarr
        # template path yet — refuse loudly.
        raise NotImplementedError(
            f"cannot template a zarr array for string dtype {dtype!r} "
            f"(variable schema {var_schema.get('dims')}); drop or encode "
            "string variables before store_to_zarr"
        )
    encoding = var_schema.get("encoding", {})
    extra_attrs: dict = {}
    # encoding may pin the metadata fill (readers substitute it for
    # never-written chunks — load-bearing for sparse writers like
    # dataframe_to_zarr's fill_value)
    fill: object = encoding.get("fill_value", 0)
    if dtype.startswith("datetime64"):
        units = encoding.get("units", _DEFAULT_TIME_UNITS)
        calendar = encoding.get("calendar", "proleptic_gregorian")
        extra_attrs = {"units": units, "calendar": calendar}
        return "int64", extra_attrs, fill
    if "units" in encoding and "calendar" in encoding:
        # non-standard-calendar time (SURVEY §1.2 design: int64 offsets +
        # units/calendar metadata; the reference reaches the same stored
        # ints through cftime object arrays — aggregation.py:183-201).
        # "object" dtype appears when such a schema is imported from a
        # cftime-producing writer.
        if not is_supported_calendar(encoding["calendar"]):
            raise NotImplementedError(
                f"calendar {encoding['calendar']!r} is not supported"
            )
        extra_attrs = {"units": encoding["units"], "calendar": encoding["calendar"]}
        return ("int64" if dtype == "object" else dtype), extra_attrs, fill
    if dtype == "object":
        raise NotImplementedError(
            "object-dtype variables without units/calendar encoding have "
            "no Zarr representation (reference aggregation.py:193-197 "
            "handles only the cftime case)"
        )
    if dtype.startswith("float"):
        fill = encoding.get("fill_value", 0.0)
    return dtype, extra_attrs, fill


def schema_to_zarr(
    schema: XarraySchema,
    target_store,
    target_chunks: Optional[Dict[str, int]] = None,
    attrs: Optional[Dict[str, str]] = None,
    append_dim: Optional[str] = None,
    compressor: Optional[str] = None,
    target_shards: Optional[Dict[str, int]] = None,
    zarr_format: int = 3,
) -> Store:
    """Initialize a Zarr group from the combined schema — metadata only, no
    data chunks; idempotent when not appending (reference
    ``aggregation.py:254-281``). Driver-side single call.

    ``target_shards`` (elements per stored object along the named dims,
    each a multiple of the corresponding ``target_chunks`` entry) writes
    data variables in the zarr v3 ``sharding_indexed`` layout.
    ``zarr_format=2`` emits the classic v2 on-disk layout
    (``.zgroup``/``.zarray``/``.zattrs`` + numcodecs compressor configs)
    for consumers still on zarr-python 2.x.
    """
    if zarr_format == 2 and target_shards:
        raise ValueError("sharding is a zarr v3 layout; use zarr_format=3")
    store = _store_for(target_store)
    chunks = determine_target_chunks(schema, target_chunks)

    if append_dim:
        # appending: resize the append dim; keep only the append coord's
        # schema to avoid clobbering existing coords (reference
        # aggregation.py:264-274)
        group = open_group(store)
        grow = schema["dims"][append_dim]
        for name in group.array_names():
            arr = group[name]
            dim_names = arr.dimension_names or []
            if append_dim in dim_names:
                axis = dim_names.index(append_dim)
                new_shape = list(arr.shape)
                new_shape[axis] += grow  # existing + new — NOT idempotent,
                # matching the reference's append warning (transforms.py:680-684)
                arr.resize(new_shape)
        # resizes make any consolidated metadata stale — drop it so readers
        # fall back to per-array documents until the post-pass rebuilds it
        if group.v2:
            if store.exists(".zmetadata"):
                store.rm_prefix(".zmetadata")
            group._consolidated = None
        elif group.meta.pop("consolidated_metadata", None) is not None:
            group.flush_meta()
        return store

    dataset_attrs = dict(schema["attrs"])
    for k, v in (attrs or {}).items():
        dataset_attrs[f"pangeo-forge:{k}"] = v
    group = create_group(
        store, attrs=dataset_attrs, overwrite=True, zarr_format=zarr_format
    )

    non_dim_coords = [
        name
        for name, vs in schema["coords"].items()
        if list(vs["dims"]) != [name]
    ]
    if non_dim_coords:
        # CF-style marker so readers can reconstruct the coord set
        group.attrs["coordinates"] = " ".join(sorted(non_dim_coords))
        group.flush_meta()

    for name, var_schema in {**schema["coords"], **schema["data_vars"]}.items():
        dtype, extra_attrs, fill = _zarr_spec_for(var_schema)
        var_chunks = [
            max(min(chunks.get(d, s), s) if s else chunks.get(d, 1), 1)
            for d, s in zip(var_schema["dims"], var_schema["shape"])
        ]
        var_shards = None
        if target_shards and name in schema["data_vars"] and any(
            d in target_shards for d in var_schema["dims"]
        ):
            var_shards = []
            for d, s, c in zip(
                var_schema["dims"], var_schema["shape"], var_chunks
            ):
                want = target_shards.get(d, c)
                if want % c:
                    raise ValueError(
                        f"target_shards[{d!r}]={want} is not a multiple of "
                        f"the chunk size {c}"
                    )
                # cap at the chunk-grid extent so edge shards stay bounded
                want = min(want, -(-max(s, 1) // c) * c)
                var_shards.append(want)
        group.create_array(
            name,
            shape=var_schema["shape"],
            chunks=var_chunks,
            dtype=dtype,
            fill_value=fill,
            attributes={**var_schema["attrs"], **extra_attrs},
            dimension_names=list(var_schema["dims"]),
            compressor=compressor,
            overwrite=True,
            shards=var_shards,
        )
    return store


# ---------------------------------------------------------------------------
# region writes (executor-side)
# ---------------------------------------------------------------------------


def _region_for(var: Variable, index: Index) -> Tuple[slice, ...]:
    """Region of the target this fragment owns (reference
    ``writers.py:15-29``): concat dims use the indexed start offset, other
    dims span fully."""
    region = []
    for dim, dimsize in var.sizes.items():
        concat_dim = index.find_concat_dim(dim)
        if concat_dim:
            position = index[concat_dim]
            assert position.indexed
            region.append(slice(position.value, position.value + dimsize))
        else:
            region.append(slice(None))
    return tuple(region)


def _encode_for_store(var: Variable, arr_attrs: dict) -> np.ndarray:
    data = np.asarray(var.data)
    if data.dtype.kind == "M":
        units = arr_attrs.get("units") or var.encoding.get("units", _DEFAULT_TIME_UNITS)
        return encode_cf_datetime(data, units)
    return data


def _store_data(vname: str, var: Variable, index: Index, group: ZarrGroup) -> None:
    """Write one variable's region with the chunk-alignment assertion
    (reference ``writers.py:32-54``)."""
    arr = group[vname]
    data = _encode_for_store(var, arr.attrs)
    region = _region_for(var, index)
    for dimsize, chunksize, region_slice in zip(arr.shape, arr.chunks, region):
        if region_slice.start is None:
            continue
        if not (
            region_slice.start % chunksize == 0
            and (region_slice.stop % chunksize == 0 or region_slice.stop == dimsize)
        ):
            raise ValueError(
                f"Region {region} does not align with Zarr chunks {arr.chunks}."
            )
    arr[region] = data


def _is_first_item(index: Index) -> bool:
    return all(v.value == 0 for v in index.values())


def _is_first_in_merge_dim(index: Index) -> bool:
    return all(
        v.value == 0 for k, v in index.items() if k.operation == CombineOp.MERGE
    )


def store_dataset_fragment(item: Tuple[Index, NDDataset], target_store) -> None:
    """Store one combined chunk into the target (reference
    ``writers.py:95-129``), with the coordinate-ownership dedup rules:

    * coords are only written by the first-in-merge-dim owner;
    * coords containing a concat dim are written by every such owner (each
      owns a disjoint region);
    * other coords are written once, by the global first item.
    """
    index, ds = item
    group = open_group(_store_for(target_store))

    if _is_first_in_merge_dim(index):
        for vname, var in ds.coords.items():
            has_concat_dim = any(index.find_concat_dim(d) for d in var.dims)
            if has_concat_dim or _is_first_item(index):
                _store_data(vname, var, index, group)
    for vname, var in ds.data_vars.items():
        _store_data(vname, var, index, group)


# ---------------------------------------------------------------------------
# zarr → NDDataset (reader)
# ---------------------------------------------------------------------------


def _decode_from_store(arr_data: np.ndarray, attrs: dict) -> Tuple[np.ndarray, dict, dict]:
    attrs = dict(attrs)
    encoding: dict = {}
    if "units" in attrs and "calendar" in attrs and arr_data.dtype.kind in "if":
        units, calendar = attrs.pop("units"), attrs.pop("calendar")
        if is_standard_calendar(calendar):
            arr_data = decode_cf_datetime(arr_data, units, calendar)
        # non-standard calendars stay as raw int offsets (SURVEY §1.2);
        # the units/calendar pair rides in encoding either way
        encoding = {"units": units, "calendar": calendar}
    return arr_data, attrs, encoding


def open_zarr_group(store_or_path, load: bool = True) -> NDDataset:
    """Open a Zarr store as an NDDataset (engine analog of
    ``xr.open_dataset(..., engine="zarr")``).

    ``load=False`` wraps each DATA variable in a :class:`LazyArray` over
    the store's chunk-granular region reader — opening costs metadata
    only, and a later ``isel``+materialize reads exactly the selected
    chunk ranges (kerchunk reference stores included: their gets are
    byte-range reads into the source files). Coordinates stay eager —
    they are 1-D and the combine logic inspects their values.
    """
    group = open_group(_store_for(store_or_path))
    group_attrs = dict(group.attrs)
    non_dim_coords = set((group_attrs.pop("coordinates", "") or "").split())

    coords: Dict[str, Variable] = {}
    data_vars: Dict[str, Variable] = {}
    dims_seen: Dict[str, int] = {}
    for name in group.array_names():
        arr = group[name]
        dim_names = arr.dimension_names or [f"dim_{i}" for i in range(len(arr.shape))]
        for d, s in zip(dim_names, arr.shape):
            dims_seen[d] = s
        is_coord = name in non_dim_coords or list(dim_names) == [name]
        if load or is_coord:
            data, attrs, encoding = _decode_from_store(arr.read(), arr.attrs)
            var = Variable(tuple(dim_names), data, attrs, encoding)
        else:
            attrs = dict(arr.attrs)
            encoding: dict = {}
            post = None
            out_dtype = arr.dtype
            if (
                "units" in attrs
                and "calendar" in attrs
                and np.dtype(arr.dtype).kind in "if"
            ):
                units, calendar = attrs.pop("units"), attrs.pop("calendar")
                encoding = {"units": units, "calendar": calendar}
                if is_standard_calendar(calendar):
                    out_dtype = np.dtype("datetime64[ns]")
                    post = (
                        lambda d, u=units, c=calendar: decode_cf_datetime(d, u, c)
                    )
                # non-standard calendars stay as raw int offsets
            var = Variable(
                tuple(dim_names),
                LazyArray(arr, dtype=out_dtype, post=post),
                attrs,
                encoding,
            )
        if is_coord:
            coords[name] = var
        else:
            data_vars[name] = var
    return NDDataset(data_vars, coords, group_attrs, dims_seen)


def zarr_group_schema(store_or_path) -> XarraySchema:
    """Metadata-only schema of a Zarr store — reads zarr.json documents,
    never chunk data (the cheap first pass of the pipeline)."""
    group = open_group(_store_for(store_or_path))
    group_attrs = dict(group.attrs)
    non_dim_coords = set((group_attrs.pop("coordinates", "") or "").split())
    schema: XarraySchema = {
        "attrs": group_attrs,
        "coords": {},
        "data_vars": {},
        "dims": {},
        "chunks": {},
    }
    for name in group.array_names():
        arr = group[name]
        dim_names = list(arr.dimension_names or [f"dim_{i}" for i in range(len(arr.shape))])
        attrs = dict(arr.attrs)
        encoding: dict = {}
        dtype = str(arr.dtype)
        if "units" in attrs and "calendar" in attrs:
            encoding = {"units": attrs.pop("units"), "calendar": attrs.pop("calendar")}
            if is_standard_calendar(encoding["calendar"]):
                dtype = "datetime64[ns]"
            # non-standard calendars keep the stored integer dtype
        entry = {
            "dims": dim_names,
            "attrs": attrs,
            "dtype": dtype,
            "shape": list(arr.shape),
            "encoding": encoding,
        }
        for d, s in zip(dim_names, arr.shape):
            schema["dims"][d] = s
        if name in non_dim_coords or dim_names == [name]:
            schema["coords"][name] = entry
        else:
            schema["data_vars"][name] = entry
    return schema


# ---------------------------------------------------------------------------
# npz container (engine-native portable source format)
# ---------------------------------------------------------------------------


def write_npz(path_or_buf, ds: NDDataset) -> None:
    """Serialize an NDDataset to a single ``.npz``: one entry per variable
    plus a JSON ``__meta__`` entry (dims/attrs/encoding/roles)."""
    meta = {
        "attrs": ds.attrs,
        "dims": ds.sizes,
        "coords": {},
        "data_vars": {},
    }
    arrays: Dict[str, np.ndarray] = {}
    for role in ("coords", "data_vars"):
        for name, var in getattr(ds, role).items():
            data = var.data
            entry = {"dims": list(var.dims), "attrs": var.attrs, "encoding": var.encoding}
            if data.dtype.kind == "M":
                entry["dtype"] = str(data.dtype)
                data = data.astype("datetime64[ns]").astype("int64")
            meta[role][name] = entry
            arrays[f"{role}::{name}"] = data
    arrays["__meta__"] = np.frombuffer(
        json.dumps(meta).encode("utf-8"), dtype="uint8"
    )
    if hasattr(path_or_buf, "write"):
        np.savez(path_or_buf, **arrays)
    else:
        with open(path_or_buf, "wb") as f:
            np.savez(f, **arrays)


def read_npz(path_or_buf, load: bool = True) -> NDDataset:
    """Read an engine-native ``.npz`` container back into an NDDataset."""
    if hasattr(path_or_buf, "read"):
        path_or_buf = io.BytesIO(path_or_buf.read())
    with np.load(path_or_buf, allow_pickle=False) as npz:
        meta = json.loads(bytes(npz["__meta__"]).decode("utf-8"))
        out = {"coords": {}, "data_vars": {}}
        for role in ("coords", "data_vars"):
            for name, entry in meta[role].items():
                data = npz[f"{role}::{name}"]
                if entry.get("dtype", "").startswith("datetime64"):
                    data = data.astype("int64").view("datetime64[ns]")
                out[role][name] = Variable(
                    tuple(entry["dims"]), data, entry["attrs"], entry["encoding"]
                )
    return NDDataset(out["data_vars"], out["coords"], meta["attrs"], meta["dims"])


def npz_schema(path_or_buf) -> XarraySchema:
    """Schema of an npz container (reads the zip directory + meta entry only;
    array payloads are not decompressed)."""
    if hasattr(path_or_buf, "read"):
        path_or_buf = io.BytesIO(path_or_buf.read())
    import zipfile

    with zipfile.ZipFile(path_or_buf) as zf:
        with zf.open("__meta__.npy") as f:
            raw = np.lib.format.read_array(f, allow_pickle=False)
        meta = json.loads(bytes(raw).decode("utf-8"))
        shapes: Dict[str, tuple] = {}
        dtypes: Dict[str, str] = {}
        for info in zf.infolist():
            name = info.filename[:-4]  # strip .npy
            if name == "__meta__":
                continue
            with zf.open(info) as f:
                version = np.lib.format.read_magic(f)
                shape, _, dtype = np.lib.format._read_array_header(f, version)
                shapes[name] = shape
                dtypes[name] = str(dtype)
    schema: XarraySchema = {
        "attrs": meta["attrs"],
        "coords": {},
        "data_vars": {},
        "dims": meta["dims"],
        "chunks": {},
    }
    for role in ("coords", "data_vars"):
        for name, entry in meta[role].items():
            key = f"{role}::{name}"
            schema[role][name] = {
                "dims": entry["dims"],
                "attrs": entry["attrs"],
                "dtype": entry.get("dtype") or dtypes[key],
                "shape": list(shapes[key]),
                "encoding": entry["encoding"],
            }
    return schema


# ---------------------------------------------------------------------------
# post-passes (driver-side)
# ---------------------------------------------------------------------------


# codec name -> the create_array compressor that writes it, in either
# format (a v2 store's gzip compressor reads back as ``gzip-frame``)
_COMPRESSORS = {"gzip": "gzip", "gzip-frame": "gzip", "zstd": "zstd", "blosc": "blosc"}


def consolidate_dimension_coordinates(target_store) -> None:
    """Rewrite every dimension-coordinate array as a single chunk for read
    performance (reference ``rechunking.py:251-283``), with the array's
    own compressor."""
    store = _store_for(target_store)
    group = open_group(store)
    names = group.array_names()
    dims = set()
    for name in names:
        arr = group[name]
        dims.update(arr.dimension_names or [])
    for dim in dims & set(names):
        arr = group[dim]
        data = arr.read()
        meta = dict(arr.meta)
        codecs = [c["name"] for c in (arr._sharding or meta)["codecs"]]
        del group[dim]
        new = group.create_array(
            dim,
            shape=arr.shape,
            chunks=arr.shape,  # single chunk
            dtype=str(arr.dtype),
            fill_value=arr.fill_value,
            attributes=meta.get("attributes", {}),
            dimension_names=meta.get("dimension_names"),
            compressor=next((_COMPRESSORS[n] for n in codecs if n in _COMPRESSORS), None),
        )
        new[tuple(slice(0, s) for s in arr.shape)] = data


# ---------------------------------------------------------------------------
# distributed store verification
# ---------------------------------------------------------------------------


def verify_zarr(spark, store_or_path, check_values: bool = True):
    """Distributed integrity check of a Zarr store: one row per expected
    chunk object, decoded (optionally) in parallel across the cluster.

    At 100 TB a store holds 10^5-10^7 chunk objects; verifying them on
    the driver would take days. This plans as one Spark stage over the
    expected chunk grid (driver state = metadata only): each task fetches
    and decodes its chunks, reporting (array, chunk_key, exists, ok,
    nbytes, error). ``check_values=False`` skips decoding and only
    checks existence/size — the cheap scrub. Missing chunks are REPORTED
    but may be legitimate (fill-value chunks are not stored; sharded
    fill chunks are sentinel-indexed), so interpretation is left to the
    caller: ``ok`` is False only for present-but-undecodable objects.
    """
    from pyspark.sql import Row

    from .session import local_df
    from .zarrio import open_group

    group = open_group(_store_for(store_or_path))
    # a path/url reference tasks can re-resolve (scheme-dispatched:
    # local dirs and s3://gs:// urls both verify in parallel)
    root = (
        str(store_or_path)
        if isinstance(store_or_path, str)
        else getattr(group.store, "root", None)
        or getattr(group.store, "root_url", None)
    )
    if root is None:
        raise NotImplementedError("verify_zarr needs a path-backed store")
    work = []
    for name in group.array_names():
        arr = group[name]
        import itertools as _it

        for idx in _it.product(*[range(n) for n in arr.nchunks]):
            work.append((name, list(idx)))
    if not work:
        return local_df(
            spark, [], "array string, chunk_key string, exists boolean, ok boolean, "
            "nbytes long, error string"
        )

    def check(rows):
        from .zarrio import _store_for as _sf, open_group as _og

        g = _og(_sf(root))
        arrs = {}
        for row in rows:
            name, idx = row[0], tuple(row[1])
            arr = arrs.get(name)
            if arr is None:
                arr = arrs[name] = g[name]
            key = arr._key(idx)
            exists = arr.store.exists(key)
            nbytes, ok, err = 0, True, None
            if exists:
                try:
                    buf = arr.store.get(key)
                    nbytes = len(buf)
                    if check_values:
                        arr._decode_chunk(buf)
                except Exception as e:  # report, don't fail the scrub
                    ok = False
                    err = f"{type(e).__name__}: {e}"
            yield Row(
                array=name, chunk_key=key, exists=exists, ok=ok,
                nbytes=nbytes, error=err,
            )

    n_parts = min(max(len(work) // 64, 1), spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(work, n_parts).mapPartitions(check)
    return spark.createDataFrame(
        rdd,
        "array string, chunk_key string, exists boolean, ok boolean, "
        "nbytes long, error string",
    )


def store_summary(store_or_path) -> dict:
    """Operational description of a Zarr store: per-array shape, chunk
    and shard grids, codecs, stored-object count and bytes, compression
    ratio. Metadata + listing only — no chunk is decoded."""
    group = open_group(_store_for(store_or_path))
    out: dict = {"zarr_format": 2 if group.v2 else 3, "arrays": {}}
    total_stored = 0
    total_logical = 0
    for name in group.array_names():
        arr = group[name]
        keys = [
            k
            for k in group.store.list_prefix(f"{name}/")
            if not k.endswith((".zarray", ".zattrs", "zarr.json"))
        ]
        stored = sum(group.store.size(k) for k in keys)
        logical = int(np.prod(arr.shape, dtype=np.int64)) * arr.dtype.itemsize
        sharding = arr._sharding
        entry = {
            "shape": list(arr.shape),
            "dtype": str(arr.dtype),
            "chunks": list(
                sharding["chunk_shape"] if sharding else arr.chunks
            ),
            "codecs": [c["name"] for c in arr.meta["codecs"]],
            "n_objects": len(keys),
            "stored_bytes": stored,
            "logical_bytes": logical,
            "ratio": round(logical / stored, 2) if stored else None,
        }
        if sharding:
            entry["shards"] = list(arr.chunks)
        out["arrays"][name] = entry
        total_stored += stored
        total_logical += logical
    out["stored_bytes"] = total_stored
    out["logical_bytes"] = total_logical
    out["n_objects"] = sum(a["n_objects"] for a in out["arrays"].values())
    return out
