"""File openers: url → NDDataset, schema or kerchunk references.

Parity layer for reference ``pangeo_forge_recipes/openers.py:16-254``.
:data:`READERS` is the engine table (reference ``openers.py:40-47``): one
row per :class:`FileType` giving the format's open, schema and scan
callables, all engine-native — ``npz`` and ``zarr`` through the engine's
own stores, ``netcdf3`` through the pure-numpy classic reader in
:mod:`..netcdf3`, ``netcdf4``/HDF5 through the pure-Python byte-range
walker in :mod:`..hdf5io`, ``grib`` through the pure-Python GRIB2 reader
in :mod:`..grib2io`, ``opendap`` through the DAP2/DAP4 wire client in
:mod:`..dap4io`, and ``kerchunk`` reference files. A row also names the
operations that read a remote source in place; every other remote read
goes through one temp download (:func:`_read_source`). Which transport a
url takes is decided in :mod:`.storage` alone.
"""

from __future__ import annotations

import importlib
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, Optional

from .aggregation import XarraySchema, dataset_to_schema
from .dsio import npz_schema, open_zarr_group, read_npz, zarr_group_schema
from .ndset import NDDataset
from .patterns import FileType
from .storage import (
    CacheFSSpecTarget,
    _add_query_string_secrets,
    _open_url_raw,
    is_http_url,
    is_object_url,
    is_remote_url,
    local_path,
    open_binary,
    ref_url,
    store_for,
    url_range_get,
)


def open_url(
    fname: str,
    cache: Optional[CacheFSSpecTarget] = None,
    secrets: Optional[dict] = None,
    open_kwargs: Optional[dict] = None,
) -> str:
    """Resolve a source url to a readable location, optionally via the byte
    cache (reference ``openers.py:16-37``). Returns the resolved path: the
    cache path on cache hit/fill, else the (secret-augmented) original."""
    if cache is not None:
        cache.cache_file(fname, secrets, **(open_kwargs or {}))
        return cache.cache_path(fname)
    if secrets:
        return _add_query_string_secrets(fname, secrets)
    return fname


def _grib_filter(kw: dict) -> Optional[dict]:
    """GRIB message filter from opener kwargs — accepts the cfgrib
    convention (``backend_kwargs={'filter_by_keys': ...}``) and the flat
    form (reference pushes this into the reader at ``openers.py:191-199``
    via ``kerchunk_open_kwargs``)."""
    return kw.get("filter_by_keys") or kw.get("backend_kwargs", {}).get(
        "filter_by_keys"
    ) or kw.get("filter")


_HDF5_SIG = b"\x89HDF\r\n\x1a\n"


def sniff_file_type(url: str) -> FileType:
    """Detect a source's :class:`FileType` from its bytes — the engine
    analog of the reference's ``FileType.unknown`` auto-selection
    (``openers.py:53-60`` warns and lets xarray's backend guess; here
    the magic numbers decide):

    * zarr: a DIRECTORY (or url prefix) holding ``zarr.json`` /
      ``.zgroup``;
    * HDF5/netCDF4: the 8-byte HDF5 signature at offset 0 or any
      userblock offset 512·2^k;
    * classic netCDF3: ``CDF\\x01/\\x02/\\x05``;
    * GRIB2: ``GRIB``; npz: zip ``PK\\x03\\x04``;
    * kerchunk: a JSON document (leading ``{``).
    """
    if is_remote_url(url):
        store = store_for(url)
        if store.exists("zarr.json") or store.exists(".zgroup"):
            return FileType.zarr
    else:
        path = local_path(url)
        if os.path.isdir(path):
            if os.path.exists(os.path.join(path, "zarr.json")) or os.path.exists(
                os.path.join(path, ".zgroup")
            ):
                return FileType.zarr
            raise ValueError(f"{url}: directory without zarr metadata")
    head = url_range_get(url, 0, 8)
    if head[:8] == _HDF5_SIG:
        return FileType.netcdf4
    if head[:3] == b"CDF" and head[3:4] in (b"\x01", b"\x02", b"\x05"):
        return FileType.netcdf3
    if head[:4] == b"GRIB":
        return FileType.grib
    if head[:4] == b"PK\x03\x04":
        return FileType.npz
    if head[:1] in (b"{", b" ", b"\n"):
        return FileType.kerchunk
    # HDF5 userblock: the signature may sit at 512 * 2^k
    off = 512
    while off <= (1 << 22):
        try:
            sig = url_range_get(url, off, 8)
        except OSError:  # a server may refuse a range past EOF
            break
        if sig == _HDF5_SIG:
            return FileType.netcdf4
        if len(sig) < 8:
            break
        off *= 2
    raise ValueError(
        f"{url}: unrecognized format (first bytes {head[:8]!r}); pass an "
        "explicit file_type"
    )


def _resolve_type(url: str, file_type: FileType) -> FileType:
    return sniff_file_type(url) if file_type == FileType.unknown else file_type


@dataclass(frozen=True)
class Reader:
    """One row of :data:`READERS`. ``open(path, load, kw)``,
    ``schema(path, kw)`` and ``scan(path, inline_threshold, kw)`` take a
    local path, or the remote url itself for the ops named in
    ``in_place``; ``kw`` are the caller's opener kwargs. ``scan=None``:
    the format has no reference scanner. ``lazy`` formats honour
    ``load=False`` with byte-ranges into the source, so their temp
    download must outlive the open."""

    open: Callable
    schema: Callable
    scan: Optional[Callable] = None
    in_place: frozenset = frozenset()
    lazy: bool = False


def _fn(module: str, name: str) -> Callable:
    """``module.name``, imported at the call: the format readers stay out
    of the package import."""
    return getattr(importlib.import_module(f".{module}", __package__), name)


def _scan_zarr(path: str, inline_threshold: int, kw: dict) -> dict:
    if is_http_url(path):
        # scanning needs a key LISTING, which http cannot provide (and a
        # remote zarr store already reads in place through HTTPStore) —
        # fail with the story instead of a confusing 404 on the dir url
        raise NotImplementedError(
            "kerchunk-scanning a REMOTE zarr store is not supported (http "
            "has no key listing) — read it directly: open_zarr_group(url) "
            "/ spark.read.format('zarr').load(url), or scan the store "
            "where it was written"
        )
    if is_object_url(path):
        # object stores CAN list keys — scan the store in place: metadata
        # objects inline, chunk objects reference the url whole-object
        return _fn("kerchunkio", "scan_zarr_store")(
            store_for(path), path, inline_threshold=inline_threshold
        )
    return _fn("kerchunkio", "scan_zarr")(path, inline_threshold=inline_threshold)


_ALL_OPS = frozenset({"open", "schema", "scan"})

#: the engine table, mirroring reference ``openers.py:40-47``
READERS = {
    FileType.npz: Reader(
        open=lambda p, load, kw: read_npz(p, load=load),
        schema=lambda p, kw: npz_schema(p),
        scan=lambda p, n, kw: _fn("kerchunkio", "scan_npz")(p, inline_threshold=n),
        lazy=True,
    ),
    # a zarr store is a url PREFIX, not a single file: it reads in place
    # through its Store (consolidated metadata = one GET for the group
    # walk; lazy opens range-GET chunks)
    FileType.zarr: Reader(
        open=lambda p, load, kw: open_zarr_group(p, load=load),
        schema=lambda p, kw: zarr_group_schema(p),
        scan=_scan_zarr,
        in_place=_ALL_OPS,
        lazy=True,
    ),
    # the classic-netCDF scan parses one header block in place
    FileType.netcdf3: Reader(
        open=lambda p, load, kw: _fn("netcdf3", "read_netcdf3")(p),
        schema=lambda p, kw: _fn("netcdf3", "netcdf3_schema")(p),
        scan=lambda p, n, kw: _fn("netcdf3", "scan_netcdf3")(p, inline_threshold=n),
        in_place=frozenset({"scan"}),
    ),
    # the HDF5 header walk runs over block-cached Range GETs and chunk
    # data range-reads through the virtual store — no download
    FileType.netcdf4: Reader(
        open=lambda p, load, kw: _fn("hdf5io", "read_hdf5")(p),
        schema=lambda p, kw: _fn("hdf5io", "hdf5_schema")(p),
        scan=lambda p, n, kw: _fn("hdf5io", "scan_hdf5")(p, inline_threshold=n),
        in_place=_ALL_OPS,
    ),
    # the GRIB2 scan skips section-7 payloads via seek, so a remote scan
    # transfers O(headers + bitmaps) — the NOMADS/HRRR kerchunk shape
    FileType.grib: Reader(
        open=lambda p, load, kw: _fn("grib2io", "read_grib2")(
            p, filter_by_keys=_grib_filter(kw)
        ),
        schema=lambda p, kw: _fn("grib2io", "grib2_schema")(
            p, filter_by_keys=_grib_filter(kw)
        ),
        scan=lambda p, n, kw: _fn("grib2io", "scan_grib2")(
            p, inline_threshold=n, filter_by_keys=_grib_filter(kw)
        ),
        in_place=frozenset({"scan"}),
    ),
    # opendap is remote by definition (reference skips fsspec for it too,
    # ``openers.py:230``): projection + isel push column/row pruning to
    # the server, so only the subset crosses the wire. The protocol
    # auto-negotiates (one .dmr probe per process): DAP4 where served,
    # DAP2 fallback — pass protocol="dap2"/"dap4" to pin
    FileType.opendap: Reader(
        open=lambda p, load, kw: _fn("dap4io", "open_dap")(
            p,
            projection=kw.get("projection"),
            isel=kw.get("isel"),
            protocol=kw.get("protocol", "auto"),
            checksums=kw.get("checksums", False),
        ),
        schema=lambda p, kw: _fn("dap4io", "dap_schema")(
            p, protocol=kw.get("protocol", "auto")
        ),
        in_place=frozenset({"open", "schema"}),
    ),
    # no metadata fast path: the schema is a full open's
    FileType.kerchunk: Reader(
        open=lambda p, load, kw: _fn("kerchunkio", "open_reference_dataset")(
            p, load=load
        ),
        schema=lambda p, kw: dataset_to_schema(
            _fn("kerchunkio", "open_reference_dataset")(p)
        ),
        lazy=True,
    ),
}


def _read_source(
    url: str,
    file_type: FileType,
    op: str,
    read: Callable,
    open_kwargs: Optional[dict] = None,
    keep_temp: bool = False,
):
    """``read(path_or_url)`` for one op on one source. A local url reads
    its path; a remote url is read in place when the format's row says
    so, else it streams to a temp file first (the un-cached path — pass
    ``cache=`` upstream so the byte cache pays the transfer once per
    url). The temp is removed afterwards unless ``keep_temp``, and a
    scan's references to it are rewritten to the ORIGINAL url, so every
    later chunk read is a range read of the source: scan once,
    range-read forever."""
    if not is_remote_url(url):
        return read(local_path(url))
    if op in READERS[file_type].in_place:
        return read(url)
    tmp = tempfile.NamedTemporaryFile(suffix=f".{file_type.value}", delete=False)
    try:
        with tmp, _open_url_raw(url, None, **(open_kwargs or {})) as src:
            shutil.copyfileobj(src, tmp, 16 * 1024 * 1024)
        out = read(tmp.name)
    finally:
        if not keep_temp:
            try:
                os.unlink(tmp.name)
            except OSError:
                pass
    if op == "scan":
        temp_url = ref_url(tmp.name)
        table = out.get("refs", out)
        for key, val in table.items():
            if isinstance(val, list) and val and val[0] == temp_url:
                table[key] = [url] + val[1:]
    return out


def open_with_ndset(
    url: str,
    file_type: FileType = FileType.npz,
    load: bool = True,
    xarray_open_kwargs: Optional[dict] = None,
) -> NDDataset:
    """Open one source file as an NDDataset (reference ``open_with_xarray``,
    ``openers.py:207-254``). ``load=True`` materializes data before the
    fragment crosses an exchange — mandatory in Spark, where a fragment must
    be fully serializable (the reference documents the same hazard at
    ``openers.py:248-252``). Remote sources read in place or from a temp
    download as :data:`READERS` says; a temp download that a lazy
    (``load=False``) open still reads from is not removed."""
    file_type = _resolve_type(url, file_type)
    kw = dict(xarray_open_kwargs or {})
    reader = READERS[file_type]
    return _read_source(
        url, file_type, "open", lambda p: reader.open(p, load, kw), kw,
        keep_temp=reader.lazy and not load,
    )


def read_schema(
    url: str,
    file_type: FileType = FileType.npz,
    xarray_open_kwargs: Optional[dict] = None,
) -> XarraySchema:
    """Metadata-only schema of one source file — the cheap first pass of the
    pipeline (the Spark rendition of the reference's lazy ``load=False``
    open at ``transforms.py:230``: here we never touch array payloads).
    Reader options that change the visible dataset (e.g. the GRIB message
    filter) apply to the schema too."""
    file_type = _resolve_type(url, file_type)
    kw = dict(xarray_open_kwargs or {})
    return _read_source(
        url, file_type, "schema", lambda p: READERS[file_type].schema(p, kw), kw
    )


def open_with_kerchunk(
    url: str,
    file_type: FileType = FileType.npz,
    inline_threshold: int = 300,
    kerchunk_open_kwargs: Optional[dict] = None,
) -> list:
    """Scan one file into kerchunk-style reference dicts (reference
    ``openers.py:137-204``). Natively scans the engine's npz container
    (byte-range references into the zip), zarr stores (references to the
    chunk objects), classic netcdf3 (contiguous-variable byte ranges,
    analog of kerchunk's ``NetCDF3ToZarr``), netcdf4/HDF5 (object-header
    + chunk-B-tree walk, analog of kerchunk's ``SingleHdf5ToZarr``) and
    grib2 (whole-message chunks via the ``grib2-msg`` codec, analog of
    kerchunk's ``scan_grib``; ``kerchunk_open_kwargs['filter_by_keys']``
    pushes the message filter into the scan). Emitted byte ranges always
    point at ``url``, never at a temp download."""
    if str(url).endswith(".dmrpp"):
        # a DMR++ sidecar IS the scan (NASA EOSDIS convention): parse
        # the byte-range annotations, read ZERO bytes of the archive.
        # Explicit kerchunk_open_kwargs["data_url"] re-points at a
        # mirror; a sidecar without dmrpp:href falls back to the
        # convention that it sits next to its data object
        from .dap4io import MissingDmrppHref, scan_dmrpp

        with open_binary(url) as f:
            text = f.read().decode()
        data_url = (kerchunk_open_kwargs or {}).get("data_url")
        try:
            return [scan_dmrpp(text, data_url=data_url)]
        except MissingDmrppHref:
            # only the missing-href case falls back; real scan errors
            # (malformed offsets, out-of-grid positions) propagate
            return [scan_dmrpp(text, data_url=str(url)[: -len(".dmrpp")])]
    file_type = _resolve_type(url, file_type)
    kw = dict(kerchunk_open_kwargs or {})
    scan = READERS[file_type].scan
    if scan is None:
        raise NotImplementedError(
            f"kerchunk scanning of file_type={file_type.value!r} is not "
            "supported; supported here: npz, zarr, netcdf3, netcdf4, grib"
        )
    return [
        _read_source(
            url, file_type, "scan", lambda p: scan(p, inline_threshold, kw), kw
        )
    ]
