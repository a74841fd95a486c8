"""Minimal Zarr v3 store: create / region-write / read / consolidate.

zarr-python is not available in this environment, so the engine carries its
own implementation of the Zarr v3 core format (JSON ``zarr.json`` metadata
documents + binary chunk objects under ``c/<i>/<j>/...``), covering exactly
what the pipeline needs (reference usages: template init
``aggregation.py:254-281``, region writes ``writers.py:32-54``, coordinate
consolidation ``rechunking.py:251-283``, metadata consolidation
``writers.py:72-92``).

A chunk is encoded by walking its array's ``codecs`` list forward and
decoded by walking it in reverse, through one table from codec name to
(kind, encode, decode, size): :func:`_codecs`. The chain keeps the Zarr v3
core order: array->array codecs (``transpose``), then one array->bytes
codec (``bytes``, ``sharding_indexed``, ``grib2-msg``), then bytes->bytes
codecs (compressors, checksums and the HDF5 filters in their file's
pipeline order). A codec whose one-shot decode needs its decoded size
(zstd, snappy, hdf5-zstd, szip) gets it where the chain fixes it, and
raises ``NotImplementedError`` elsewhere. Adding a codec is adding one
table entry.

Storage goes through the tiny :class:`Store` key/value interface so the same
writer code targets local disk today and an object store (s3/gcs keys map
1:1) on a real cluster. All writes are idempotent puts of deterministic
bytes — safe under Spark task retries; region writes aligned to chunk
boundaries touch disjoint keys, so concurrent executors never contend
(the invariant the reference enforces at ``writers.py:43-53``).
"""

from __future__ import annotations

import bz2
import functools
import itertools
import json
import math
import os
import struct
import zlib
from typing import Callable, Iterator, List, NamedTuple, Optional, Sequence, Tuple

import numpy as np

ZARR_JSON = "zarr.json"

# numpy dtype <-> zarr v3 data_type names
_DTYPE_TO_ZARR = {
    "bool": "bool",
    "int8": "int8",
    "int16": "int16",
    "int32": "int32",
    "int64": "int64",
    "uint8": "uint8",
    "uint16": "uint16",
    "uint32": "uint32",
    "uint64": "uint64",
    "float16": "float16",
    "float32": "float32",
    "float64": "float64",
}
_ZARR_TO_DTYPE = {v: k for k, v in _DTYPE_TO_ZARR.items()}


class Store:
    """Key/value storage interface (strings keys, bytes values)."""

    def get(self, key: str) -> bytes:
        raise NotImplementedError

    def put(self, key: str, value: bytes) -> None:
        raise NotImplementedError

    def exists(self, key: str) -> bool:
        raise NotImplementedError

    def list_prefix(self, prefix: str) -> Iterator[str]:
        raise NotImplementedError

    def list_prefix_with_sizes(self, prefix: str):
        """Yield ``(key, size)`` pairs. Default re-HEADs each key; object
        stores override to reuse the sizes the listing pages already
        carry (ListObjectsV2 returns every key's Size) — halves request
        count for scanners that need both."""
        for key in self.list_prefix(prefix):
            yield key, self.size(key)

    def rm_prefix(self, prefix: str) -> None:
        raise NotImplementedError

    def put_parts(self, key: str, parts) -> None:
        """Write a sequence of buffers as one object. Default joins;
        stores with streaming writes (LocalStore; an object store's
        multipart upload) override to skip the concatenation copy."""
        self.put(key, b"".join(parts))

    # range access — the object-store byte-range GET. Subclasses should
    # override both for real partial reads; the defaults are correct but
    # fetch the whole value.
    def size(self, key: str) -> int:
        return len(self.get(key))

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        if offset < 0:  # suffix range, à la HTTP "bytes=-N"
            return self.get(key)[offset:]
        return self.get(key)[offset : offset + length]


class LocalStore(Store):
    """Filesystem-backed store rooted at a directory."""

    def __init__(self, root: str):
        self.root = str(root)
        os.makedirs(self.root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def get(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def put(self, key: str, value: bytes) -> None:
        path = self._path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(value)
        os.replace(tmp, path)  # atomic on POSIX — idempotent under retries

    def put_parts(self, key: str, parts) -> None:
        """Write a sequence of buffers as one object without
        concatenating them first — a shard's members stream straight to
        the file (the b''.join of a 100 MB-class shard was a full extra
        payload copy per object)."""
        path = self._path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            for part in parts:
                f.write(part)
        os.replace(tmp, path)

    def exists(self, key: str) -> bool:
        return os.path.exists(self._path(key))

    def list_prefix(self, prefix: str) -> Iterator[str]:
        base = self._path(prefix)
        if not os.path.isdir(base):
            return
        for dirpath, _, files in os.walk(base):
            for fn in files:
                full = os.path.join(dirpath, fn)
                yield os.path.relpath(full, self.root)

    def rm_prefix(self, prefix: str) -> None:
        import shutil

        base = self._path(prefix)
        if os.path.isdir(base):
            shutil.rmtree(base)
        elif os.path.exists(base):
            os.remove(base)

    def size(self, key: str) -> int:
        return os.path.getsize(self._path(key))

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        with open(self._path(key), "rb") as f:
            if offset < 0:
                f.seek(offset, os.SEEK_END)
                return f.read()
            f.seek(offset)
            return f.read(length)


def _fletcher32_verify_strip(buf: bytes) -> bytes:
    """Drop an HDF5 fletcher32 trailer after verifying it (the filter
    appends the 4-byte little-endian checksum of the stored stream —
    verification failure is loud, never silent corruption)."""
    from .hdf5io import hdf5_fletcher32

    if len(buf) < 4:
        raise ValueError("fletcher32-filtered chunk shorter than its trailer")
    payload, (want,) = buf[:-4], struct.unpack("<I", buf[-4:])
    got = hdf5_fletcher32(payload)
    if got != want:
        raise ValueError(
            f"fletcher32 checksum mismatch: stored {want:#010x}, "
            f"computed {got:#010x} — corrupt chunk (or a filter-order "
            "variant this engine does not recognize)"
        )
    return payload


def _store_for(path_or_store) -> Store:
    if isinstance(path_or_store, Store):
        return path_or_store
    from .storage import store_for

    return store_for(str(path_or_store))


def _encode_fill(value, dtype: np.dtype):
    if value is None:
        return 0
    if dtype.kind == "f":
        v = float(value)
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if dtype.kind == "b":
        return bool(value)
    return int(value)


def _decode_fill(value, dtype: np.dtype):
    if dtype.kind == "f" and isinstance(value, str):
        return {"NaN": math.nan, "Infinity": math.inf, "-Infinity": -math.inf}[value]
    if dtype.kind == "S":
        # raw/bytes arrays: the metadata default 0 means "empty record"
        # (np.full would otherwise stringify it to b"0")
        if value in (0, None, ""):
            return b""
        return value.encode() if isinstance(value, str) else value
    return value


def _all_fill(block: np.ndarray, fill) -> bool:
    """True when every element equals the fill value (NaN-aware).

    Short-circuits on the first element before the full scan: real data
    blocks bail in O(1), so the scan cost is only ever paid by blocks
    that actually are (mostly) fill — the ones worth eliding."""
    f = np.asarray(fill)
    flat = block.reshape(-1)
    if block.dtype.kind == "f" and np.isnan(f):
        if flat.size and not np.isnan(flat[0]):
            return False
        return bool(np.all(np.isnan(block)))
    if flat.size and not bool(flat[0] == f):
        return False
    return bool(np.all(block == f))


# -- codec pipeline (see the module docstring) ------------------------------
# ``encode(za, conf, value, rep)`` and ``decode(za, conf, value, rep)`` get
# ``rep``, what the encoder takes in and the decoder gives back: the array's
# shape for array->array and array->bytes codecs, the byte count for
# bytes->bytes codecs (None where the chain does not fix it).
# ``size(za, conf, rep)`` is what the encoder puts out.

AA, AB, BB = "array->array", "array->bytes", "bytes->bytes"


class Codec(NamedTuple):
    kind: str
    encode: Callable
    decode: Callable
    size: Callable = lambda za, conf, rep: None


def _same(za, conf, n):
    return n


def _plus4(za, conf, n):
    return None if n is None else n + 4


def _plain(fn: Callable) -> Callable:
    """A codec function of the buffer alone."""
    return lambda za, conf, buf, rep: fn(buf)


def _read_only(name: str) -> Callable:
    def encode(za, conf, value, rep):
        raise NotImplementedError(
            f"{name}: arrays under this codec are read-only; re-store "
            "through the Zarr pipeline instead"
        )

    return encode


def _decoded_size(name: str, n: Optional[int]) -> int:
    """The decoded size a one-shot decoder needs: given where the chain
    fixes it, a named refusal elsewhere."""
    if n is None:
        raise NotImplementedError(
            f"{name} stacked above a codec whose output size the chain "
            "does not fix: its one-shot decode needs the decoded size"
        )
    return n


def _sized(name: str, fn: Callable) -> Callable:
    return lambda za, conf, buf, n: fn(buf, _decoded_size(name, n))


def _endian(conf: dict) -> str:
    return ">" if conf.get("endian") == "big" else "<"


def _bytes_encode(za, conf, arr, shape):
    return np.ascontiguousarray(
        arr, dtype=za.dtype.newbyteorder(_endian(conf))
    ).tobytes()


def _bytes_decode(za, conf, buf, shape):
    arr = np.frombuffer(buf, dtype=za.dtype.newbyteorder(_endian(conf)))
    arr = arr.astype(za.dtype, copy=False)
    if shape == za.chunks:
        return za._pad_reshape(arr)
    if arr.size != int(np.prod(shape, dtype=np.int64)):
        raise NotImplementedError("ragged (short) chunk under a transpose codec")
    return arr.reshape(shape)


def _grib2_decode(za, conf, buf, shape):
    from .grib2io import decode_grib2_message

    return za._pad_reshape(
        decode_grib2_message(buf).astype(za.dtype, copy=False).ravel()
    )


def _crc32c_decode(buf: bytes) -> bytes:
    from .codecs import crc32c

    if len(buf) < 4 or crc32c(buf[:-4]) != int.from_bytes(buf[-4:], "little"):
        raise ValueError("crc32c checksum mismatch")
    return buf[:-4]


def _blosc_encode(za, conf, buf, n):
    from .codecs import blosc_compress

    return blosc_compress(
        buf,
        typesize=za.dtype.itemsize,
        cname=conf.get("cname", "lz4"),
        shuffle={0: False, 1: True, 2: "bit"}.get(int(conf.get("shuffle", 1)), True),
        blocksize=int(conf.get("blocksize", 0)),
    )


def _bitshuffle(fn: Callable) -> Callable:
    return lambda za, conf, buf, n: fn(
        buf,
        int(conf.get("elementsize", za.dtype.itemsize)),
        conf.get("compression", "lz4"),
        int(conf.get("blockelems", 0)),
    )


def _szip_args(conf: dict) -> tuple:
    keys = ("options_mask", "bits_per_pixel", "pixels_per_block", "pixels_per_scanline")
    return tuple(conf[k] for k in keys)


def _zfp_decode(za, conf, buf, n):
    # a zfp chunk is a self-contained typed stream (full header + blocks)
    from .zfpio import decompress_zfp

    arr = decompress_zfp(buf).astype(za.dtype.newbyteorder("<"), copy=False)
    return arr.tobytes()


def _numcodecs_size(za, conf, n):
    dtype = np.dtype(conf.get("dtype", za.dtype))
    astype = np.dtype(conf.get("astype") or dtype)
    return None if n is None else n // dtype.itemsize * astype.itemsize


def _numcodecs_decode(za, conf, buf, n):
    from .codecs import decode_v2_filter

    return decode_v2_filter(buf, conf, za.dtype).tobytes()


def _gzip_frame_encode(za, conf, buf, n):
    co = zlib.compressobj(int(conf.get("level", 1)), zlib.DEFLATED, 31)
    return co.compress(buf) + co.flush()


# wbits 47 reads a zlib (RFC 1950) or a gzip (RFC 1952) stream
_inflate = _plain(lambda buf: zlib.decompress(buf, 47))


@functools.lru_cache(maxsize=None)
def _codecs() -> dict:
    """The codec table (built on first use: its codecs live in modules
    that import this one)."""
    from . import codecs as c
    from . import hdf5io as h
    from . import szip

    def fletcher32_encode(buf):
        return buf + struct.pack("<I", h.hdf5_fletcher32(buf))

    def shuffle(fn):
        return lambda za, conf, buf, n: fn(buf, int(conf.get("elementsize", 0)))

    numcodecs = Codec(BB, _read_only("numcodecs filter"), _numcodecs_decode, _numcodecs_size)
    return {
        "transpose": Codec(
            AA,
            lambda za, conf, arr, shape: np.transpose(arr, conf["order"]),
            lambda za, conf, arr, shape: arr.transpose(np.argsort(conf["order"])),
            lambda za, conf, shape: tuple(shape[i] for i in conf["order"]),
        ),
        "bytes": Codec(
            AB, _bytes_encode, _bytes_decode,
            lambda za, conf, shape: int(np.prod(shape, dtype=np.int64)) * za.dtype.itemsize,
        ),
        "sharding_indexed": Codec(
            AB,
            lambda za, conf, arr, shape: za._encode_shard(np.asarray(arr, dtype=za.dtype)),
            lambda za, conf, buf, shape: za._decode_shard(buf),
        ),
        "grib2-msg": Codec(AB, _read_only("grib2-msg"), _grib2_decode),
        # the engine writes zlib streams under ``gzip`` (as HDF5 deflate
        # stores them); ``gzip-frame`` is numcodecs' GZip (RFC 1952)
        "gzip": Codec(
            BB,
            lambda za, conf, buf, n: zlib.compress(buf, int(conf.get("level", 1))),
            _inflate,
        ),
        "gzip-frame": Codec(BB, _gzip_frame_encode, _inflate),
        "zstd": Codec(
            BB,
            lambda za, conf, buf, n: c.zstd_compress(buf, int(conf.get("level", 1))),
            _sized("zstd", c.zstd_decompress),
        ),
        "lz4": Codec(BB, _plain(c.numcodecs_lz4_compress), _plain(c.numcodecs_lz4_decompress)),
        "snappy": Codec(
            BB,
            _plain(functools.partial(c._stream_compress, "snappy")),
            _sized("snappy", c.snappy_decompress),
        ),
        "blosc": Codec(BB, _blosc_encode, _plain(c.blosc_decompress)),
        "crc32c": Codec(
            BB,
            _plain(lambda buf: buf + int(c.crc32c(buf)).to_bytes(4, "little")),
            _plain(_crc32c_decode),
            _plus4,
        ),
        # HDF5 filters, in the file's recorded pipeline order
        "hdf5-shuffle": Codec(BB, shuffle(c.shuffle_bytes), shuffle(c.unshuffle_bytes), _same),
        "hdf5-fletcher32": Codec(
            BB, _plain(fletcher32_encode), _plain(_fletcher32_verify_strip), _plus4
        ),
        "hdf5-lzf": Codec(BB, _plain(h.lzf_compress), _plain(h.lzf_decompress)),
        "hdf5-bzip2": Codec(
            BB, _plain(functools.partial(bz2.compress, compresslevel=9)), _plain(bz2.decompress)
        ),
        "hdf5-lz4": Codec(BB, _plain(h.hdf5_lz4_compress), _plain(h.hdf5_lz4_decompress)),
        # the HDF5 zstd filter stores no size header
        "hdf5-zstd": Codec(BB, _plain(c.zstd_compress), _sized("hdf5-zstd", c.zstd_decompress)),
        # one self-describing Blosc1 frame either way
        "hdf5-blosc": Codec(
            BB,
            lambda za, conf, buf, n: c.blosc_compress(buf, typesize=za.dtype.itemsize),
            _plain(c.blosc_decompress),
        ),
        "hdf5-bitshuffle": Codec(
            BB, _bitshuffle(h.hdf5_bitshuffle_compress), _bitshuffle(h.hdf5_bitshuffle_decompress)
        ),
        "hdf5-szip": Codec(
            BB,
            lambda za, conf, buf, n: szip.szip_compress(buf, *_szip_args(conf)),
            lambda za, conf, buf, n: szip.szip_decompress(
                buf, _decoded_size("hdf5-szip", n) // za.dtype.itemsize, *_szip_args(conf)
            ),
        ),
        # the scanned chain records no zfp mode, so there is nothing to
        # encode with; decode yields the chunk's raw little-endian bytes
        "hdf5-zfp": Codec(BB, _read_only("hdf5-zfp"), _zfp_decode),
        "numcodecs-delta": numcodecs,
        "numcodecs-fixedscaleoffset": numcodecs,
        "numcodecs-quantize": numcodecs,
    }


class ZarrArray:
    """One Zarr v3 array node: regular chunk grid, a codec chain walked
    through :func:`_codecs` (``sharding_indexed`` stores many inner chunks
    per object plus a crc32c-protected offset index), edge chunks stored
    full-size and padded with the fill value."""

    def __init__(self, store: Store, path: str, meta: dict):
        self.store = store
        self.path = path  # "" for root-level array; else "name" or "a/b"
        self.meta = meta

    # -- properties -----------------------------------------------------------
    @property
    def shape(self) -> Tuple[int, ...]:
        return tuple(self.meta["shape"])

    @property
    def chunks(self) -> Tuple[int, ...]:
        return tuple(self.meta["chunk_grid"]["configuration"]["chunk_shape"])

    @property
    def dtype(self) -> np.dtype:
        dt = self.meta["data_type"]
        if dt[:1] == "r" and dt[1:].isdigit():
            # zarr v3 raw-bits type rN (N = bits, byte multiple): fixed
            # width opaque records, surfaced as numpy bytes |S{N/8}
            # (the DMR++ scanner emits these for fixed-width strings)
            bits = int(dt[1:])
            if bits % 8:
                raise NotImplementedError(
                    f"raw data type {dt}: non-byte-aligned widths "
                    "unsupported"
                )
            return np.dtype(f"|S{bits // 8}")
        return np.dtype(_ZARR_TO_DTYPE[dt])

    @property
    def fill_value(self):
        return _decode_fill(self.meta["fill_value"], self.dtype)

    @property
    def attrs(self) -> dict:
        return self.meta.setdefault("attributes", {})

    @property
    def dimension_names(self) -> Optional[List[str]]:
        return self.meta.get("dimension_names")

    @property
    def nchunks(self) -> Tuple[int, ...]:
        return tuple(
            -(-s // c) if s else 0 for s, c in zip(self.shape, self.chunks)
        )

    def _key(self, chunk_idx: Tuple[int, ...]) -> str:
        enc = self.meta["chunk_key_encoding"]
        sep = enc["configuration"].get("separator", "/")
        if enc.get("name") == "v2":
            # zarr v2 layout: bare dotted/slashed indices, no "c" prefix
            name = sep.join(str(i) for i in chunk_idx) if chunk_idx else "0"
        else:
            parts = ["c"] + [str(i) for i in chunk_idx]
            name = sep.join(parts) if chunk_idx else "c"
        return f"{self.path}/{name}" if self.path else name

    # -- sharding (zarr v3 ``sharding_indexed`` codec, ZEP 2) ------------------
    @property
    def _sharding(self) -> Optional[dict]:
        for c in self.meta["codecs"]:
            if c["name"] == "sharding_indexed":
                return c["configuration"]
        return None

    def _inner_array(self) -> "ZarrArray":
        """A virtual array whose "chunks" are the shard's inner chunks and
        whose codecs are the sharding config's inner chain — reuses the
        whole single-chunk encode/decode machinery for shard members."""
        cfg = self._sharding
        meta = dict(self.meta)
        meta["codecs"] = cfg["codecs"]
        meta["chunk_grid"] = {
            "name": "regular",
            "configuration": {"chunk_shape": list(cfg["chunk_shape"])},
        }
        return ZarrArray(self.store, self.path, meta)

    def _shard_layout(self) -> Tuple[Tuple[int, ...], int, bool]:
        """(inner-chunk grid within a shard, index nbytes, crc32c?)."""
        cfg = self._sharding
        inner = tuple(int(c) for c in cfg["chunk_shape"])
        grid = tuple(
            -(-s // i) for s, i in zip(self.chunks, inner)
        )
        n = int(np.prod(grid, dtype=np.int64))
        has_crc = any(
            c.get("name") == "crc32c" for c in cfg.get("index_codecs", [])
        )
        return grid, 16 * n + (4 if has_crc else 0), has_crc

    _SHARD_MISSING = (1 << 64) - 1

    def _encode_shard(self, arr: np.ndarray) -> bytes:
        return b"".join(self._encode_shard_parts(arr))

    def _encode_shard_parts(self, arr: np.ndarray) -> list:
        """Encoded shard as a list of buffers (members + index) so the
        store can stream them without concatenation — joining a shard's
        members costs a full extra payload copy per object (measured
        ~2.3x per-byte vs raw chunks on the saturation shape before the
        parts path)."""
        from .codecs import crc32c as _crc32c

        cfg = self._sharding
        inner_shape = tuple(int(c) for c in cfg["chunk_shape"])
        grid, _, has_crc = self._shard_layout()
        inner = self._inner_array()
        fill = self.fill_value
        encs = []
        offset = 0
        entries = []
        for idx in itertools.product(*[range(g) for g in grid]):
            sl = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, inner_shape, arr.shape)
            )
            block = arr[sl]
            if block.shape != inner_shape:  # edge: stored full-size, padded
                padded = np.full(inner_shape, fill, dtype=self.dtype)
                padded[tuple(slice(0, e) for e in block.shape)] = block
                block = padded
            if _all_fill(block, fill):
                entries.append((self._SHARD_MISSING, self._SHARD_MISSING))
                continue
            enc = inner._encode_chunk(block)
            entries.append((offset, len(enc)))
            encs.append(enc)
            offset += len(enc)
        index = np.array(entries, dtype="<u8").tobytes()
        if has_crc:
            index += int(_crc32c(index)).to_bytes(4, "little")
        if cfg.get("index_location", "end") == "start":
            # offsets are absolute within the shard object
            shift = len(index)
            entries = [
                (o + shift, n) if o != self._SHARD_MISSING else (o, n)
                for o, n in entries
            ]
            index = np.array(entries, dtype="<u8").tobytes()
            if has_crc:
                index += int(_crc32c(index)).to_bytes(4, "little")
            return [index, *encs]
        return [*encs, index]

    def _decode_shard(self, buf: bytes) -> np.ndarray:
        return self._read_shard(
            lambda off, n: buf[off:] if off < 0 else buf[off : off + n]
        )

    def _read_shard(self, get_range, needed: Optional[set] = None) -> np.ndarray:
        """Decode a shard's inner chunks (those in ``needed``, or all)
        from ``get_range(offset, length)`` reads of the shard object (a
        negative offset reads that many bytes from its end)."""
        cfg = self._sharding
        inner_shape = tuple(int(c) for c in cfg["chunk_shape"])
        grid, index_nbytes, has_crc = self._shard_layout()
        at_start = cfg.get("index_location", "end") == "start"
        index_buf = get_range(0 if at_start else -index_nbytes, index_nbytes)
        if len(index_buf) < index_nbytes:
            raise ValueError(
                f"shard object shorter than its index ({index_nbytes} bytes)"
            )
        if has_crc:
            index_buf = _crc32c_decode(index_buf)
        entries = np.frombuffer(index_buf, dtype="<u8").reshape(-1, 2)
        inner = self._inner_array()
        out = np.full(self.chunks, self.fill_value, dtype=self.dtype)
        for flat, idx in enumerate(
            itertools.product(*[range(g) for g in grid])
        ):
            off, nb = int(entries[flat, 0]), int(entries[flat, 1])
            if off == self._SHARD_MISSING or (needed is not None and idx not in needed):
                continue
            block = inner._decode_chunk(get_range(off, nb))
            sl = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, inner_shape, self.chunks)
            )
            out[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]
        return out

    def _steps(self) -> list:
        """``[(codec, configuration, rep)]`` for ``meta["codecs"]`` in
        order, where ``rep`` is what the codec's encoder takes in and its
        decoder gives back (see :func:`_codecs`). Raises on an unknown
        codec name or a chain out of the spec's order."""
        steps, rep, in_bytes = [], self.chunks, False
        for c in self.meta["codecs"]:
            codec = _codecs().get(c["name"])
            if codec is None:
                raise NotImplementedError(f"codec {c['name']!r} unsupported")
            if (codec.kind == BB) != in_bytes:
                raise ValueError(
                    f"codec {c['name']!r} out of order in "
                    f"{[x['name'] for x in self.meta['codecs']]}: array->array "
                    "codecs, then one array->bytes codec, then bytes->bytes"
                )
            conf = c.get("configuration", {})
            steps.append((codec, conf, rep))
            rep = codec.size(self, conf, rep)
            in_bytes = in_bytes or codec.kind == AB
        if not in_bytes:
            raise ValueError("codec chain has no array->bytes codec")
        return steps

    def _encode_chunk(self, arr: np.ndarray) -> bytes:
        for codec, conf, rep in self._steps():
            arr = codec.encode(self, conf, arr, rep)
        return arr

    def _shard_chunks_for(
        self, rel_start: Sequence[int], rel_stop: Sequence[int]
    ) -> Tuple[set, int]:
        """(inner-chunk indices intersecting the within-shard region,
        total inner chunks in the shard)."""
        cfg = self._sharding
        inner_shape = tuple(int(c) for c in cfg["chunk_shape"])
        grid, _, _ = self._shard_layout()
        ranges = [
            range(a // c, -(-b // c))
            for a, b, c in zip(rel_start, rel_stop, inner_shape)
        ]
        return set(itertools.product(*ranges)), int(
            np.prod(grid, dtype=np.int64)
        )

    def _decode_chunk(self, buf: bytes) -> np.ndarray:
        for codec, conf, rep in reversed(self._steps()):
            buf = codec.decode(self, conf, buf, rep)
        return buf

    def _pad_reshape(self, arr: np.ndarray) -> np.ndarray:
        full = int(np.prod(self.chunks, dtype=np.int64))
        if arr.size < full:
            # ragged edge chunk (e.g. a combined-kerchunk final file shorter
            # than the chunk grid along the concat axis): the bytes cover the
            # leading rows in C order — pad the tail with the fill value
            inner = int(np.prod(self.chunks[1:], dtype=np.int64)) if len(self.chunks) > 1 else 1
            if inner == 0 or arr.size % inner:
                raise ValueError(
                    f"chunk buffer holds {arr.size} elements, not a whole number "
                    f"of rows of the {self.chunks} chunk grid"
                )
            pad = np.full(full - arr.size, self.fill_value, dtype=self.dtype)
            arr = np.concatenate([arr, pad])
        return arr.reshape(self.chunks)

    def _full_chunk(self) -> np.ndarray:
        return np.full(self.chunks, self.fill_value, dtype=self.dtype)

    # -- region IO ------------------------------------------------------------
    def _normalize_region(self, region) -> Tuple[slice, ...]:
        if not isinstance(region, tuple):
            region = (region,)
        out = []
        for sl, size in zip(region, self.shape):
            if isinstance(sl, slice):
                start, stop, step = sl.indices(size)
                if step != 1:
                    raise IndexError("only step-1 regions supported")
                out.append(slice(start, stop))
            else:
                out.append(slice(int(sl), int(sl) + 1))
        # implicit full slices for trailing dims
        for size in self.shape[len(out):]:
            out.append(slice(0, size))
        return tuple(out)

    def _intersecting_chunks(self, region: Tuple[slice, ...]) -> Iterator[Tuple[int, ...]]:
        ranges = [
            range(sl.start // c, -(-sl.stop // c) if sl.stop > sl.start else sl.start // c)
            for sl, c in zip(region, self.chunks)
        ]
        import itertools

        return itertools.product(*ranges)

    def __setitem__(self, region, value) -> None:
        """Region write. Chunk-aligned regions (the pipeline invariant,
        reference ``writers.py:43-53``) are pure puts; misaligned interior
        writes fall back to read-modify-write of the touched chunks (only
        used by driver-side post-passes, never concurrently)."""
        region = self._normalize_region(region)
        value = np.asarray(value, dtype=self.dtype)
        region_shape = tuple(sl.stop - sl.start for sl in region)
        value = np.broadcast_to(value, region_shape)
        for chunk_idx in self._intersecting_chunks(region):
            c_start = [i * c for i, c in zip(chunk_idx, self.chunks)]
            c_stop = [min(s + c, dim) for s, c, dim in zip(c_start, self.chunks, self.shape)]
            # overlap in array space
            o_start = [max(cs, sl.start) for cs, sl in zip(c_start, region)]
            o_stop = [min(ce, sl.stop) for ce, sl in zip(c_stop, region)]
            covers_chunk = o_start == c_start and o_stop == c_stop
            key = self._key(chunk_idx)
            in_value = tuple(
                slice(a - sl.start, b - sl.start) for a, b, sl in zip(o_start, o_stop, region)
            )
            if covers_chunk and tuple(
                b - a for a, b in zip(c_start, c_stop)
            ) == tuple(self.chunks):
                # interior chunk fully covered by the write (THE pipeline
                # hot path): encode the value view directly — the former
                # full-chunk fill + assignment were two wasted
                # full-payload passes per object
                chunk_data = value[in_value]
            else:
                if covers_chunk:
                    chunk_data = self._full_chunk()
                elif self.store.exists(key):
                    chunk_data = self._decode_chunk(self.store.get(key)).copy()
                else:
                    chunk_data = self._full_chunk()
                in_chunk = tuple(
                    slice(a - cs, b - cs) for a, b, cs in zip(o_start, o_stop, c_start)
                )
                chunk_data[in_chunk] = value[in_value]
            if self._sharding is not None:
                self.store.put_parts(
                    key,
                    self._encode_shard_parts(
                        np.asarray(chunk_data, dtype=self.dtype)
                    ),
                )
            else:
                self.store.put(key, self._encode_chunk(chunk_data))

    def __getitem__(self, region) -> np.ndarray:
        region = self._normalize_region(region)
        shape = tuple(sl.stop - sl.start for sl in region)
        out = np.full(shape, self.fill_value, dtype=self.dtype)
        for chunk_idx in self._intersecting_chunks(region):
            key = self._key(chunk_idx)
            c_start = [i * c for i, c in zip(chunk_idx, self.chunks)]
            c_stop = [min(s + c, dim) for s, c, dim in zip(c_start, self.chunks, self.shape)]
            o_start = [max(cs, sl.start) for cs, sl in zip(c_start, region)]
            o_stop = [min(ce, sl.stop) for ce, sl in zip(c_stop, region)]
            if self.store.exists(key):
                if self._sharding is not None:
                    needed, total = self._shard_chunks_for(
                        [a - cs for a, cs in zip(o_start, c_start)],
                        [b - cs for b, cs in zip(o_stop, c_start)],
                    )
                    if len(needed) < total:
                        # partial shard read: byte-range GETs of the index
                        # plus ONLY the needed inner chunks
                        chunk_data = self._read_shard(
                            functools.partial(self.store.get_range, key), needed
                        )
                    else:
                        chunk_data = self._decode_chunk(self.store.get(key))
                else:
                    chunk_data = self._decode_chunk(self.store.get(key))
            else:
                chunk_data = self._full_chunk()
            in_chunk = tuple(
                slice(a - cs, b - cs) for a, b, cs in zip(o_start, o_stop, c_start)
            )
            in_out = tuple(
                slice(a - sl.start, b - sl.start) for a, b, sl in zip(o_start, o_stop, region)
            )
            out[in_out] = chunk_data[in_chunk]
        return out

    def read(self) -> np.ndarray:
        return self[tuple(slice(0, s) for s in self.shape)]

    def flush_meta(self) -> None:
        if "_v2_zarray" in self.meta:
            zarray = dict(self.meta["_v2_zarray"])
            zarray["shape"] = [int(s) for s in self.meta["shape"]]
            prefix = f"{self.path}/" if self.path else ""
            self.store.put(
                f"{prefix}.zarray", json.dumps(zarray, indent=1).encode()
            )
            self.store.put(
                f"{prefix}.zattrs",
                json.dumps(self.meta["_v2_zattrs"], indent=1).encode(),
            )
            # keep a consolidated store consistent: open_group/__getitem__
            # prefer .zmetadata, so a resize through this API would
            # otherwise reopen with the stale shape and hide appended
            # data (schema_to_zarr's append path invalidates it the same
            # way)
            if self.store.exists(".zmetadata"):
                zm = json.loads(self.store.get(".zmetadata"))
                md = zm.get("metadata", {})
                md[f"{prefix}.zarray"] = zarray
                md[f"{prefix}.zattrs"] = self.meta["_v2_zattrs"]
                self.store.put(
                    ".zmetadata", json.dumps(zm, indent=1).encode()
                )
            return
        key = f"{self.path}/{ZARR_JSON}" if self.path else ZARR_JSON
        self.store.put(key, json.dumps(self.meta, indent=1).encode())

    def resize(self, new_shape: Sequence[int]) -> None:
        """Grow the array (append mode, reference ``transforms.py:673-693``)."""
        self.meta["shape"] = [int(s) for s in new_shape]
        self.flush_meta()


def _v2_to_v3_array_meta(zarray: dict, zattrs: dict) -> dict:
    """Translate a zarr v2 ``.zarray``/``.zattrs`` pair into this engine's
    v3 meta shape, so :class:`ZarrArray` reads v2 stores unchanged.
    Covered: C- and F-order arrays of the numeric dtypes; raw, zlib,
    gzip, blosc (blosclz/lz4/zlib/zstd/snappy internal codecs, byte- and
    bit-shuffle, via :mod:`.codecs`), lz4, zstd, and snappy compressed
    chunks; the shuffle filter; any dimension_separator;
    ``_ARRAY_DIMENSIONS`` → dimension names (the xarray convention).
    Unknown filters raise with a clear message."""
    dt = np.dtype(zarray["dtype"])
    base = dt.newbyteorder("=").name
    if base not in _DTYPE_TO_ZARR:
        raise NotImplementedError(
            f"zarr v2 dtype {zarray['dtype']!r} unsupported"
        )
    codecs: List[dict] = []
    if zarray.get("order", "C") == "F":
        # column-major chunks = the v3 transpose codec with reversed axes
        ndim = len(zarray["shape"])
        codecs.append(
            {
                "name": "transpose",
                "configuration": {"order": list(range(ndim - 1, -1, -1))},
            }
        )
    codecs.append(
        {
            "name": "bytes",
            "configuration": {
                "endian": "big" if dt.byteorder == ">" else "little"
            },
        }
    )
    for filt in zarray.get("filters") or []:
        if filt.get("id") == "shuffle":
            codecs.append(
                {
                    "name": "hdf5-shuffle",
                    "configuration": {
                        "elementsize": int(
                            filt.get("elementsize", dt.itemsize)
                        )
                    },
                }
            )
        elif filt.get("id") in ("delta", "fixedscaleoffset", "quantize"):
            codecs.append(
                {"name": f"numcodecs-{filt['id']}", "configuration": dict(filt)}
            )
        else:
            raise NotImplementedError(
                f"zarr v2 filter {filt.get('id')!r} unsupported "
                "(shuffle / delta / fixedscaleoffset / quantize are)"
            )
    comp = zarray.get("compressor")
    if comp is not None:
        cid = comp.get("id")
        if cid == "zlib":
            codecs.append(
                {"name": "gzip", "configuration": {"level": comp.get("level", 1)}}
            )
        elif cid == "gzip":
            codecs.append(
                {"name": "gzip-frame", "configuration": {"level": comp.get("level", 1)}}
            )
        elif cid == "blosc":
            codecs.append(
                {
                    "name": "blosc",
                    "configuration": {
                        "cname": comp.get("cname", "lz4"),
                        "clevel": comp.get("clevel", 5),
                        "shuffle": comp.get("shuffle", 1),
                        "blocksize": comp.get("blocksize", 0),
                    },
                }
            )
        elif cid in ("lz4", "zstd", "snappy"):
            codecs.append({"name": cid, "configuration": dict(comp)})
        else:
            raise NotImplementedError(
                f"zarr v2 compressor {cid!r} unsupported "
                "(zlib/gzip/blosc/lz4/zstd/snappy are)"
            )
    attrs = dict(zattrs)
    dims = attrs.pop("_ARRAY_DIMENSIONS", None)
    fill = zarray.get("fill_value")
    if fill is None:
        fill = "NaN" if dt.kind == "f" else 0
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(zarray["shape"]),
        "data_type": _DTYPE_TO_ZARR[base],
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(zarray["chunks"])},
        },
        "chunk_key_encoding": {
            "name": "v2",
            "configuration": {
                "separator": zarray.get("dimension_separator", ".")
            },
        },
        "fill_value": fill,
        "codecs": codecs,
        "attributes": attrs,
        # source documents kept for write-back (flush_meta/resize on v2
        # arrays rewrite .zarray/.zattrs, not a v3 zarr.json)
        "_v2_zarray": zarray,
        "_v2_zattrs": zattrs,
    }
    if dims:
        meta["dimension_names"] = dims
    return meta


class ZarrGroup:
    """Zarr v3 group node (or a read-only view of a zarr v2 group — see
    :func:`open_group`, which detects ``.zgroup`` stores and serves their
    arrays through the v2→v3 meta translation)."""

    v2 = False

    def __init__(self, store: Store, meta: Optional[dict] = None):
        self.store = store
        self.meta = meta or {
            "zarr_format": 3,
            "node_type": "group",
            "attributes": {},
        }

    @property
    def attrs(self) -> dict:
        return self.meta.setdefault("attributes", {})

    def flush_meta(self) -> None:
        if self.v2:
            self.store.put(".zgroup", json.dumps({"zarr_format": 2}).encode())
            self.store.put(
                ".zattrs", json.dumps(self.attrs, indent=1).encode()
            )
            return
        self.store.put(ZARR_JSON, json.dumps(self.meta, indent=1).encode())

    _consolidated: Optional[dict] = None  # v2 .zmetadata cache

    def _consolidated_v3(self) -> Optional[dict]:
        cm = self.meta.get("consolidated_metadata")
        if cm and cm.get("metadata"):
            return cm["metadata"]
        return None

    def array_names(self) -> List[str]:
        # consolidated metadata (either format) answers without a listing
        # — the object-store fast path (one GET vs N)
        con = self._consolidated_v3()
        if con is not None:
            return sorted(
                n for n, m in con.items() if m.get("node_type") == "array"
            )
        if self.v2 and self._consolidated is not None:
            return sorted(
                k.split("/")[0]
                for k in self._consolidated
                if k.endswith("/.zarray")
            )
        marker = ".zarray" if self.v2 else ZARR_JSON
        names = set()
        for key in self.store.list_prefix(""):
            parts = key.split("/")
            if len(parts) == 2 and parts[1] == marker:
                names.add(parts[0])
        return sorted(names)

    def __contains__(self, name: str) -> bool:
        marker = ".zarray" if self.v2 else ZARR_JSON
        return self.store.exists(f"{name}/{marker}")

    def __getitem__(self, name: str) -> ZarrArray:
        if self.v2:
            con = self._consolidated or {}
            zarray = con.get(f"{name}/.zarray")
            if zarray is None:
                zarray = json.loads(self.store.get(f"{name}/.zarray"))
                zattrs = (
                    json.loads(self.store.get(f"{name}/.zattrs"))
                    if self.store.exists(f"{name}/.zattrs")
                    else {}
                )
            else:
                zattrs = con.get(f"{name}/.zattrs", {})
            return ZarrArray(self.store, name, _v2_to_v3_array_meta(zarray, zattrs))
        con3 = self._consolidated_v3()
        if con3 is not None and name in con3:
            meta = con3[name]
        else:
            meta = json.loads(self.store.get(f"{name}/{ZARR_JSON}"))
        if meta.get("node_type") != "array":
            raise KeyError(f"{name} is not an array")
        return ZarrArray(self.store, name, meta)

    def __delitem__(self, name: str) -> None:
        self.store.rm_prefix(name)

    def create_array(
        self,
        name: str,
        shape: Sequence[int],
        chunks: Sequence[int],
        dtype,
        fill_value=0,
        attributes: Optional[dict] = None,
        dimension_names: Optional[Sequence[str]] = None,
        compressor: Optional[str] = None,
        overwrite: bool = False,
        shards: Optional[Sequence[int]] = None,
    ) -> ZarrArray:
        """``shards`` (zarr-python convention) switches the array to the
        ``sharding_indexed`` layout: ``shards`` is the per-dim size of one
        stored object, ``chunks`` the inner chunk inside it; each shard
        carries a crc32c-protected uint64 (offset, nbytes) index. The
        object count drops by prod(shards/chunks) — the request-count
        lever for 100 TB object-store targets."""
        dtype = np.dtype(dtype)
        if str(dtype) not in _DTYPE_TO_ZARR:
            raise TypeError(f"dtype {dtype} has no zarr v3 mapping")
        if overwrite and name in self:
            del self[name]
        if self.v2:
            return self._create_array_v2(
                name, shape, chunks, dtype, fill_value, attributes,
                dimension_names, compressor, shards,
            )
        codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
        if compressor == "gzip":
            codecs.append({"name": "gzip", "configuration": {"level": 1}})
        elif compressor == "zstd":
            codecs.append({"name": "zstd", "configuration": {"level": 1}})
        elif compressor == "blosc":
            codecs.append(
                {
                    "name": "blosc",
                    "configuration": {"cname": "lz4", "clevel": 5, "shuffle": 1},
                }
            )
        elif compressor is not None and compressor != "none":
            raise NotImplementedError(
                f"compressor {compressor!r} unsupported (gzip/zstd/blosc)"
            )
        outer = [int(c) for c in chunks]
        if shards is not None:
            shards = [int(s) for s in shards]
            if len(shards) != len(outer):
                raise ValueError("shards and chunks must have equal rank")
            for s, c in zip(shards, outer):
                if s % c:
                    raise ValueError(
                        f"shard shape {shards} must be a multiple of the "
                        f"inner chunk shape {outer} along every dim"
                    )
            codecs = [
                {
                    "name": "sharding_indexed",
                    "configuration": {
                        "chunk_shape": outer,
                        "codecs": codecs,
                        "index_codecs": [
                            {"name": "bytes", "configuration": {"endian": "little"}},
                            {"name": "crc32c"},
                        ],
                        "index_location": "end",
                    },
                }
            ]
            outer = shards
        meta = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": [int(s) for s in shape],
            "data_type": _DTYPE_TO_ZARR[str(dtype)],
            "chunk_grid": {
                "name": "regular",
                "configuration": {"chunk_shape": outer},
            },
            "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
            "fill_value": _encode_fill(fill_value, dtype),
            "codecs": codecs,
            "attributes": attributes or {},
        }
        if dimension_names is not None:
            meta["dimension_names"] = list(dimension_names)
        arr = ZarrArray(self.store, name, meta)
        arr.flush_meta()
        return arr

    def _create_array_v2(
        self, name, shape, chunks, dtype, fill_value, attributes,
        dimension_names, compressor, shards,
    ) -> ZarrArray:
        """Write ``.zarray``/``.zattrs`` in the zarr v2 on-disk format
        (numcodecs-style compressor configs, ``_ARRAY_DIMENSIONS`` attr)
        and serve the array through the v2→v3 meta translation — so the
        same region-write machinery produces stores any zarr v2 reader
        (zarr-python 2.x, old xarray) consumes directly."""
        if shards is not None:
            raise NotImplementedError(
                "sharding is a zarr v3 layout; write v3 for target_shards"
            )
        if compressor in (None, "none"):
            comp = None
        elif compressor == "gzip":
            comp = {"id": "gzip", "level": 1}
        elif compressor == "zstd":
            comp = {"id": "zstd", "level": 1}
        elif compressor == "blosc":
            comp = {
                "id": "blosc", "cname": "lz4", "clevel": 5,
                "shuffle": 1, "blocksize": 0,
            }
        else:
            raise NotImplementedError(
                f"v2 compressor {compressor!r} unsupported (gzip/zstd/blosc)"
            )
        zarray = {
            "zarr_format": 2,
            "shape": [int(s) for s in shape],
            "chunks": [int(c) for c in chunks],
            "dtype": np.dtype(dtype).newbyteorder("<").str,
            "order": "C",
            "fill_value": _encode_fill(fill_value, np.dtype(dtype)),
            "filters": None,
            "compressor": comp,
            "dimension_separator": ".",
        }
        zattrs = dict(attributes or {})
        if dimension_names is not None:
            zattrs["_ARRAY_DIMENSIONS"] = list(dimension_names)
        self.store.put(f"{name}/.zarray", json.dumps(zarray, indent=1).encode())
        self.store.put(f"{name}/.zattrs", json.dumps(zattrs, indent=1).encode())
        return self[name]


def create_group(
    path_or_store,
    attrs: Optional[dict] = None,
    overwrite: bool = False,
    zarr_format: int = 3,
) -> ZarrGroup:
    store = _store_for(path_or_store)
    if overwrite:
        store.rm_prefix("")
    if zarr_format == 2:
        group = ZarrGroup(
            store,
            {"zarr_format": 2, "node_type": "group", "attributes": dict(attrs or {})},
        )
        group.v2 = True
        group.flush_meta()
        return group
    group = ZarrGroup(store)
    if attrs:
        group.attrs.update(attrs)
    group.flush_meta()
    return group


def open_group(path_or_store) -> ZarrGroup:
    store = _store_for(path_or_store)
    if store.exists(ZARR_JSON):
        meta = json.loads(store.get(ZARR_JSON))
        if meta.get("node_type") != "group":
            raise ValueError("not a zarr v3 group")
        return ZarrGroup(store, meta)
    if store.exists(".zgroup"):
        zg = json.loads(store.get(".zgroup"))
        if zg.get("zarr_format") != 2:
            raise ValueError(f"unexpected .zgroup zarr_format {zg!r}")
        consolidated = None
        if store.exists(".zmetadata"):
            zm = json.loads(store.get(".zmetadata"))
            if zm.get("zarr_consolidated_format") == 1:
                consolidated = zm.get("metadata", {})
        if consolidated is not None and ".zattrs" in consolidated:
            attrs = consolidated[".zattrs"]
        else:
            attrs = (
                json.loads(store.get(".zattrs")) if store.exists(".zattrs") else {}
            )
        group = ZarrGroup(
            store, {"zarr_format": 2, "node_type": "group", "attributes": attrs}
        )
        group.v2 = True
        group._consolidated = consolidated
        return group
    raise ValueError("neither a zarr v3 (zarr.json) nor v2 (.zgroup) store")


def consolidate_metadata(path_or_store) -> ZarrGroup:
    """Inline every child node's metadata into the root ``zarr.json``
    (zarr v3 consolidated-metadata extension; reference ``writers.py:72-92``)
    — or, for v2 stores, write the classic ``.zmetadata`` document
    (``zarr_consolidated_format`` 1, what xarray's ``consolidated=True``
    readers expect)."""
    group = open_group(path_or_store)
    if group.v2:
        metadata: dict = {".zgroup": {"zarr_format": 2}}
        if group.store.exists(".zattrs"):
            metadata[".zattrs"] = json.loads(group.store.get(".zattrs"))
        for name in group.array_names():
            metadata[f"{name}/.zarray"] = json.loads(
                group.store.get(f"{name}/.zarray")
            )
            if group.store.exists(f"{name}/.zattrs"):
                metadata[f"{name}/.zattrs"] = json.loads(
                    group.store.get(f"{name}/.zattrs")
                )
        group.store.put(
            ".zmetadata",
            json.dumps(
                {"zarr_consolidated_format": 1, "metadata": metadata},
                indent=1,
            ).encode(),
        )
        return group
    consolidated = {}
    for name in group.array_names():
        consolidated[name] = json.loads(group.store.get(f"{name}/{ZARR_JSON}"))
    group.meta["consolidated_metadata"] = {
        "kind": "inline",
        "must_understand": False,
        "metadata": consolidated,
    }
    group.flush_meta()
    return group
