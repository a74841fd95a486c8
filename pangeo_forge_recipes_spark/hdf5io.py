"""Pure-Python HDF5 byte-range scanner (and a minimal writer used to
generate test fixtures, since no HDF5 library exists in this container).

Reference parity: ``openers.py:137-204`` routes FileType.netcdf4 through
kerchunk's ``SingleHdf5ToZarr``; this module provides the same
capability natively — walk the HDF5 superblock / object headers /
B-trees and emit virtual-Zarr references whose chunks are byte ranges
into the original file. NetCDF4 files ARE HDF5 files, so this unlocks
the dominant format of the reference's feedstocks for the kerchunk path
without h5py.

Supported structure (the subset netCDF4/h5py emit for classic-model
files):

* superblock v0/v1 and v2/v3 (8-byte offsets/lengths)
* object headers v1 and v2 (``OHDR``), with continuation blocks
* old-style groups (symbol-table B-tree v1 + SNOD + local heap) and
  new-style link messages
* datatypes: fixed-point, float, fixed strings, vlen strings, object
  references (for DIMENSION_LIST resolution)
* layouts: contiguous and chunked (chunk B-tree v1, any depth)
* filters: deflate (zlib — decodes with the engine's gzip codec),
  shuffle (byte transpose), fletcher32 (filter 3 — trailing checksum
  verified on every read, mismatches raise instead of returning
  garbage), lzf (pure-python decode of h5py's filter 32000), szip
  (pure-python CCSDS 121 extended-Rice decode, module :mod:`.szip`),
  bzip2 (hdf5plugin's registered filter 307 — stdlib ``bz2``), lz4
  (registered filter 32004, public block framing over LZ4 blocks),
  zstd (registered filter 32015, one plain zstd frame), blosc,
  bitshuffle and zfp. :func:`hdf5_codec_chain` maps a filter pipeline
  to the codec chain ``ZarrArray`` walks (also for DMR++ sidecars); a
  filter whose codec has no table entry raises a clear error
* dimension naming: ``_ARRAY_DIMENSIONS`` (xarray/kerchunk convention),
  netCDF4 ``DIMENSION_LIST`` object references, or dimension-scale
  ``NAME``/``CLASS`` attributes; falls back to ``phony_dim_<i>``

The writer (`write_hdf5`) emits superblock v0, v1 object headers,
symbol-table root group, contiguous or chunked(+deflate) layouts and
``_ARRAY_DIMENSIONS`` attributes — a valid HDF5 file per the public
format spec, used by the tests to exercise the scanner end-to-end.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Dict, List, Optional, Tuple

import numpy as np

from .cfcalendar import is_standard_calendar
from .ndset import NDDataset, Variable, decode_cf_datetime
from .storage import open_seekable, ref_url

_SIGNATURE = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


# ===========================================================================
# reader
# ===========================================================================


class _Reader:
    def __init__(self, path: str):
        self.path = path
        # a remote archive's header walk runs over block-cached Range
        # GETs — a scan transfers O(header) bytes, never the file (chunk
        # data later range-reads through ReferenceStore)
        self.f = open_seekable(path)
        self._parse_superblock()
        # address -> dataset info (for DIMENSION_LIST reference resolution)
        self.datasets: Dict[str, dict] = {}
        self._addr_to_name: Dict[int, str] = {}
        self.group_attrs: Dict[str, object] = {}
        self._walk_group(self.root_addr, prefix="")

    def close(self):
        self.f.close()

    # -- low-level ---------------------------------------------------------
    def _read_at(self, addr: int, n: int) -> bytes:
        self.f.seek(addr)
        return self.f.read(n)

    def _parse_superblock(self) -> None:
        # the signature may sit at 0, 512, 1024, ... (userblock)
        base = 0
        while True:
            head = self._read_at(base, 8)
            if head == _SIGNATURE:
                break
            if not head or base > (1 << 26):
                raise ValueError(f"{self.path}: not an HDF5 file")
            base = 512 if base == 0 else base * 2
        self.base = base
        version = self._read_at(base + 8, 1)[0]
        if version in (0, 1):
            raw = self._read_at(base + 8, 96)
            self.offset_size = raw[5]
            self.length_size = raw[6]
            if version == 0:
                ste_off = base + 24
            else:  # v1 adds 2+2 bytes of indexed-storage k / reserved
                ste_off = base + 28
            ste_off += 4 * self.offset_size  # base/freespace/eof/driver addrs
            # root group symbol table entry: link name offset, header addr
            ste = self._read_at(ste_off, 2 * self.offset_size + 24)
            self.root_addr = self._unpack_addr(ste, self.offset_size)
        elif version in (2, 3):
            raw = self._read_at(base + 8, 40)
            self.offset_size = raw[1]
            self.length_size = raw[2]
            # base(8) superblock-ext(8) eof(8) root header addr(8)
            pos = base + 12 + 3 * self.offset_size
            self.root_addr = int.from_bytes(
                self._read_at(pos, self.offset_size), "little"
            )
        else:
            raise ValueError(f"unsupported superblock version {version}")
        if self.offset_size != 8 or self.length_size != 8:
            raise NotImplementedError(
                f"offset/length size {self.offset_size}/{self.length_size} "
                "not supported (expected 8)"
            )

    @staticmethod
    def _unpack_addr(buf: bytes, size: int, at: int = 8) -> int:
        # symbol table entry: name offset then object header address
        return int.from_bytes(buf[at : at + size], "little")

    # -- object headers -----------------------------------------------------
    def _messages(self, addr: int) -> List[Tuple[int, bytes]]:
        sig = self._read_at(addr, 4)
        if sig == b"OHDR":
            return self._messages_v2(addr)
        return self._messages_v1(addr)

    def _messages_v1(self, addr: int) -> List[Tuple[int, bytes]]:
        hdr = self._read_at(addr, 16)
        if hdr[0] != 1:
            raise ValueError(f"unsupported object header version {hdr[0]}")
        nmsgs = struct.unpack_from("<H", hdr, 2)[0]
        header_size = struct.unpack_from("<I", hdr, 8)[0]
        out: List[Tuple[int, bytes]] = []
        blocks = [(addr + 16, header_size)]
        while blocks and len(out) < nmsgs:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and len(out) < nmsgs:
                mhdr = self._read_at(pos, 8)
                mtype, msize = struct.unpack_from("<HH", mhdr, 0)
                body = self._read_at(pos + 8, msize)
                pos += 8 + msize
                remaining -= 8 + msize
                if mtype == 0x0010:  # continuation
                    c_off = int.from_bytes(body[0:8], "little")
                    c_len = int.from_bytes(body[8:16], "little")
                    blocks.append((c_off, c_len))
                else:
                    out.append((mtype, body))
        return out

    def _messages_v2(self, addr: int) -> List[Tuple[int, bytes]]:
        raw = self._read_at(addr, 16)
        flags = raw[5]
        pos = addr + 6
        if flags & 0x20:
            pos += 16  # access/mod/change/birth times
        if flags & 0x10:
            pos += 4  # max compact / min dense attrs
        size_bytes = 1 << (flags & 0x3)
        chunk0 = int.from_bytes(self._read_at(pos, size_bytes), "little")
        pos += size_bytes
        tracked = bool(flags & 0x04)
        out: List[Tuple[int, bytes]] = []
        blocks = [(pos, chunk0)]
        while blocks:
            bpos, blen = blocks.pop(0)
            end = bpos + blen
            p = bpos
            while p + 4 <= end:
                mtype = self._read_at(p, 1)[0]
                msize = struct.unpack("<H", self._read_at(p + 1, 2))[0]
                p += 4
                if tracked:
                    p += 2
                body = self._read_at(p, msize)
                p += msize
                if mtype == 0x10:
                    c_off = int.from_bytes(body[0:8], "little")
                    c_len = int.from_bytes(body[8:16], "little")
                    # OCHK continuation: skip 4-byte signature, drop checksum
                    blocks.append((c_off + 4, c_len - 8))
                elif mtype != 0:
                    out.append((mtype, body))
        return out

    # -- groups -------------------------------------------------------------
    def _walk_group(self, addr: int, prefix: str) -> None:
        msgs = self._messages(addr)
        types = {t for t, _ in msgs}
        if prefix == "":  # root group: collect global attributes
            for t, b in msgs:
                if t == 0x000C:
                    name, value = self._parse_attribute(b)
                    self.group_attrs[name] = value
        if 0x0011 in types:  # symbol table message → old-style group
            body = next(b for t, b in msgs if t == 0x0011)
            btree = int.from_bytes(body[0:8], "little")
            heap = int.from_bytes(body[8:16], "little")
            for name, child_addr in self._walk_symbol_btree(btree, heap):
                self._visit(child_addr, prefix + name)
        elif 0x0006 in types:  # link messages → new-style group
            for t, b in msgs:
                if t == 0x0006:
                    name, child_addr = self._parse_link(b)
                    if child_addr is not None:
                        self._visit(child_addr, prefix + name)
        elif 0x0008 in types:  # a dataset, not a group
            self._add_dataset(addr, prefix.rstrip("/"), msgs)

    def _visit(self, addr: int, path: str) -> None:
        msgs = self._messages(addr)
        types = {t for t, _ in msgs}
        if 0x0011 in types or 0x0002 in types or (
            0x0006 in types and 0x0008 not in types and 0x0003 not in types
        ):
            self._walk_group(addr, path + "/")
        elif 0x0008 in types:
            self._add_dataset(addr, path, msgs)
        # else: named datatype or unsupported node — skip

    def _walk_symbol_btree(self, btree_addr: int, heap_addr: int):
        heap_data_addr = self._heap_data_addr(heap_addr)
        out = []

        def walk(node_addr: int):
            raw = self._read_at(node_addr, 24)
            if raw[0:4] != b"TREE":
                raise ValueError("bad group B-tree node")
            level = raw[5]
            entries = struct.unpack_from("<H", raw, 6)[0]
            pos = node_addr + 24
            # keys and children alternate: key0 child0 key1 ... childN-1 keyN
            children = []
            for i in range(entries):
                children.append(
                    int.from_bytes(self._read_at(pos + 8 + i * 16, 8), "little")
                )
            for child in children:
                if level > 0:
                    walk(child)
                else:
                    snod = self._read_at(child, 8)
                    if snod[0:4] != b"SNOD":
                        raise ValueError("bad symbol node")
                    nsyms = struct.unpack_from("<H", snod, 6)[0]
                    for i in range(nsyms):
                        ste = self._read_at(child + 8 + i * 40, 40)
                        name_off = int.from_bytes(ste[0:8], "little")
                        header = int.from_bytes(ste[8:16], "little")
                        out.append((self._heap_string(heap_data_addr, name_off), header))

        walk(btree_addr)
        return out

    def _heap_data_addr(self, heap_addr: int) -> int:
        raw = self._read_at(heap_addr, 32)
        if raw[0:4] != b"HEAP":
            raise ValueError("bad local heap")
        return int.from_bytes(raw[24:32], "little")

    def _heap_string(self, data_addr: int, offset: int) -> str:
        buf = self._read_at(data_addr + offset, 256)
        return buf.split(b"\x00", 1)[0].decode("utf-8")

    def _parse_link(self, body: bytes) -> Tuple[str, Optional[int]]:
        version, flags = body[0], body[1]
        pos = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[pos]
            pos += 1
        if flags & 0x04:
            pos += 8  # creation order
        if flags & 0x10:
            pos += 1  # charset
        len_size = 1 << (flags & 0x3)
        name_len = int.from_bytes(body[pos : pos + len_size], "little")
        pos += len_size
        name = body[pos : pos + name_len].decode("utf-8")
        pos += name_len
        if ltype == 0:  # hard link → object header address
            return name, int.from_bytes(body[pos : pos + 8], "little")
        return name, None

    # -- datasets ------------------------------------------------------------
    def _add_dataset(self, addr: int, path: str, msgs) -> None:
        info: dict = {"attrs": {}, "path": path, "addr": addr}
        for mtype, body in msgs:
            if mtype == 0x0001:
                info["shape"], info["maxshape"] = self._parse_dataspace(body)
            elif mtype == 0x0003:
                info["dtype"] = self._parse_datatype(body)
            elif mtype == 0x0005:
                info["fill"] = self._parse_fill(body)
            elif mtype == 0x0008:
                info.update(self._parse_layout(body))
            elif mtype == 0x000B:
                info["filters"] = self._parse_filters(body)
            elif mtype == 0x000C:
                name, value = self._parse_attribute(body)
                info["attrs"][name] = value
        self.datasets[path] = info
        self._addr_to_name[addr] = path

    def _parse_dataspace(self, body: bytes):
        version = body[0]
        rank = body[1]
        flags = body[2]
        pos = 8 if version == 1 else 4
        dims = [
            int.from_bytes(body[pos + 8 * i : pos + 8 * i + 8], "little")
            for i in range(rank)
        ]
        maxdims = dims
        if flags & 1:
            mpos = pos + 8 * rank
            maxdims = [
                int.from_bytes(body[mpos + 8 * i : mpos + 8 * i + 8], "little")
                for i in range(rank)
            ]
        return dims, maxdims

    def _parse_datatype(self, body: bytes) -> dict:
        cls = body[0] & 0x0F
        bits = body[1] | (body[2] << 8) | (body[3] << 16)
        size = struct.unpack_from("<I", body, 4)[0]
        if cls == 0:  # fixed point
            signed = bool(bits & 0x08)
            order = ">" if bits & 1 else "<"
            return {"kind": f"{order}{'i' if signed else 'u'}{size}"}
        if cls == 1:  # float
            order = ">" if bits & 1 else "<"
            return {"kind": f"{order}f{size}"}
        if cls == 3:  # fixed string
            return {"kind": "string", "size": size}
        if cls == 7:  # reference
            return {"kind": "reference", "size": size}
        if cls == 9:  # vlen
            base = self._parse_datatype(body[8:])
            vtype = bits & 0x0F
            return {"kind": "vlen_string" if vtype == 1 else "vlen", "base": base}
        raise NotImplementedError(f"HDF5 datatype class {cls} unsupported")

    def _parse_fill(self, body: bytes):
        version = body[0]
        if version in (1, 2):
            defined = body[3]
            if version == 1 or defined:
                size = struct.unpack_from("<I", body, 4)[0]
                return body[8 : 8 + size] or None
            return None
        flags = body[1]
        if flags & 0x20:
            size = struct.unpack_from("<I", body, 2)[0]
            return body[6 : 6 + size] or None
        return None

    def _parse_layout(self, body: bytes) -> dict:
        version = body[0]
        if version == 3:
            lclass = body[1]
            if lclass == 1:  # contiguous
                address = int.from_bytes(body[2:10], "little")
                size = int.from_bytes(body[10:18], "little")
                return {"layout": "contiguous", "data_addr": address, "data_size": size}
            if lclass == 2:  # chunked
                ndims = body[2]
                btree = int.from_bytes(body[3:11], "little")
                dims = [
                    struct.unpack_from("<I", body, 11 + 4 * i)[0]
                    for i in range(ndims)
                ]
                # last entry is the element size in bytes
                return {"layout": "chunked", "btree": btree, "chunk": dims[:-1]}
            if lclass == 0:  # compact
                size = struct.unpack_from("<H", body, 2)[0]
                return {"layout": "compact", "data": body[4 : 4 + size]}
        raise NotImplementedError(f"HDF5 layout version {version} unsupported")

    def _parse_filters(self, body: bytes) -> List[Tuple[int, Tuple[int, ...]]]:
        """[(filter id, client data values)] — client data carries e.g.
        szip's (options_mask, bits_per_pixel, pixels_per_block,
        pixels_per_scanline)."""
        version = body[0]
        nfilters = body[1]
        pos = 8 if version == 1 else 2
        filters = []
        for _ in range(nfilters):
            fid = struct.unpack_from("<H", body, pos)[0]
            if version == 1 or fid >= 256:
                name_len = struct.unpack_from("<H", body, pos + 2)[0]
            else:
                name_len = 0
            ncv = struct.unpack_from("<H", body, pos + 6)[0]
            cd = struct.unpack_from(f"<{ncv}I", body, pos + 8 + name_len)
            pos += 8 + name_len + 4 * ncv
            if version == 1 and (ncv % 2):
                pos += 4  # padding to multiple of 8
            filters.append((fid, tuple(cd)))
        return filters

    def _parse_attribute(self, body: bytes):
        version = body[0]
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
        if version == 1:
            pos = 8

            def pad(n):
                return (n + 7) // 8 * 8

        elif version in (2, 3):
            pos = 8 + (1 if version == 3 else 0)

            def pad(n):
                return n

        else:
            raise NotImplementedError(f"attribute message v{version}")
        name = body[pos : pos + name_size].split(b"\x00")[0].decode("utf-8")
        pos += pad(name_size)
        dtype = self._parse_datatype(body[pos : pos + dt_size])
        pos += pad(dt_size)
        shape, _ = self._parse_dataspace(body[pos : pos + ds_size])
        pos += pad(ds_size)
        data = body[pos:]
        return name, self._decode_attr(dtype, shape, data)

    def _decode_attr(self, dtype: dict, shape: List[int], data: bytes):
        n = int(np.prod(shape)) if shape else 1
        kind = dtype["kind"]
        if kind == "string":
            sz = dtype["size"]
            vals = [
                data[i * sz : (i + 1) * sz].split(b"\x00")[0].decode("utf-8")
                for i in range(n)
            ]
            return vals if shape else vals[0]
        if kind == "vlen_string":
            vals = [self._read_vlen(data, i * 16) for i in range(n)]
            vals = [v.split(b"\x00")[0].decode("utf-8") for v in vals]
            return vals if shape else vals[0]
        if kind == "vlen":
            # e.g. DIMENSION_LIST: vlen of object references
            out = []
            for i in range(n):
                raw = self._read_vlen(data, i * 16)
                if dtype["base"]["kind"] == "reference":
                    out.append(
                        [
                            int.from_bytes(raw[j : j + 8], "little")
                            for j in range(0, len(raw), 8)
                        ]
                    )
                else:
                    out.append(raw)
            return out
        if kind == "reference":
            refs = [
                int.from_bytes(data[i * 8 : i * 8 + 8], "little") for i in range(n)
            ]
            return refs if shape else refs[0]
        arr = np.frombuffer(data, dtype=np.dtype(kind), count=n)
        if not shape:
            return arr[0].item()
        return arr.tolist()

    def _read_vlen(self, data: bytes, off: int) -> bytes:
        length = struct.unpack_from("<I", data, off)[0]
        gheap = int.from_bytes(data[off + 4 : off + 12], "little")
        index = struct.unpack_from("<I", data, off + 12)[0]
        raw = self._read_at(gheap, 16)
        if raw[0:4] != b"GCOL":
            raise ValueError("bad global heap collection")
        total = int.from_bytes(raw[8:16], "little")
        pos = gheap + 16
        end = gheap + total
        while pos < end:
            hdr = self._read_at(pos, 16)
            idx = struct.unpack_from("<H", hdr, 0)[0]
            size = int.from_bytes(hdr[8:16], "little")
            if idx == index:
                return self._read_at(pos + 16, length)
            if idx == 0:
                break
            pos += 16 + (size + 7) // 8 * 8
        raise ValueError(f"global heap object {index} not found")

    # -- chunk index ----------------------------------------------------------
    def chunks(self, info: dict) -> List[Tuple[Tuple[int, ...], int, int]]:
        """[(chunk_offset_elements, file_addr, nbytes)] for a chunked
        dataset (walks the v1 B-tree, any depth)."""
        rank = len(info["shape"])
        out: List[Tuple[Tuple[int, ...], int, int]] = []

        def walk(addr: int):
            if addr == _UNDEF:
                return
            raw = self._read_at(addr, 24)
            if raw[0:4] != b"TREE":
                raise ValueError("bad chunk B-tree node")
            level = raw[5]
            entries = struct.unpack_from("<H", raw, 6)[0]
            key_size = 8 + 8 * (rank + 1)
            pos = addr + 24
            for i in range(entries):
                kpos = pos + i * (key_size + 8)
                key = self._read_at(kpos, key_size)
                child = int.from_bytes(
                    self._read_at(kpos + key_size, 8), "little"
                )
                nbytes = struct.unpack_from("<I", key, 0)[0]
                offsets = tuple(
                    int.from_bytes(key[8 + 8 * d : 16 + 8 * d], "little")
                    for d in range(rank)
                )
                if level > 0:
                    walk(child)
                else:
                    out.append((offsets, child, nbytes))

        walk(info["btree"])
        return out


# ---------------------------------------------------------------------------
# public scanner API
# ---------------------------------------------------------------------------

_NC_HIDDEN_ATTRS = {
    "CLASS", "NAME", "DIMENSION_LIST", "REFERENCE_LIST", "_Netcdf4Dimid",
    "_Netcdf4Coordinates", "_ARRAY_DIMENSIONS", "_NCProperties",
}


def _dims_for(name: str, info: dict, reader: _Reader) -> List[str]:
    attrs = info["attrs"]
    if "_ARRAY_DIMENSIONS" in attrs:
        return list(attrs["_ARRAY_DIMENSIONS"])
    if "DIMENSION_LIST" in attrs:
        dims = []
        for refs in attrs["DIMENSION_LIST"]:
            dims.append(
                reader._addr_to_name.get(refs[0], f"phony_dim_{len(dims)}")
                if refs
                else f"phony_dim_{len(dims)}"
            )
        return dims
    if attrs.get("CLASS") == "DIMENSION_SCALE":
        return [name]
    return [f"phony_dim_{i}" for i in range(len(info["shape"]))]


_DEFLATE, _SHUFFLE, _FLETCHER32, _SZIP = 1, 2, 3, 4
_LZF = 32000  # h5py's registered LZF filter id


def hdf5_fletcher32(data: bytes) -> int:
    """HDF5's Fletcher-32 (the library's ``H5_checksum_fletcher32``,
    public source): big-endian 16-bit words, running (sum1, sum2) with
    periodic 360-word reduction folds, odd trailing byte high-aligned.
    Folding preserves congruence mod 65535 with the 0x0000-vs-0xFFFF
    representative resolved toward 0xFFFF for nonzero sums — computed
    here in closed form (numpy dot for sum2) instead of the word loop."""
    n2 = len(data) // 2
    s1_raw = s2_raw = 0
    if n2:
        words = np.frombuffer(data[: 2 * n2], dtype=">u2").astype(np.uint64)
        # blockwise so the weighted dot stays inside uint64 for any
        # chunk size: after a block of m words, sum2 grows by
        # m*sum1_before + sum_j (m-j)*w_j
        step = 1 << 20
        for off in range(0, n2, step):
            block = words[off : off + step]
            m = len(block)
            s2_raw += m * s1_raw + int(
                (block * np.arange(m, 0, -1, dtype=np.uint64)).sum()
            )
            s1_raw += int(block.sum())
    if len(data) % 2:
        last = data[-1] << 8
        s1_raw += last
        s2_raw += s1_raw
    def fold(x: int) -> int:
        r = x % 65535
        return 65535 if (r == 0 and x != 0) else r
    return (fold(s2_raw) << 16) | fold(s1_raw)
_BZIP2 = 307  # hdf5plugin's registered bzip2 filter id (stdlib bz2 stream)
_LZ4 = 32004  # registered HDF5 LZ4 filter (nexusformat/hdf5plugin)
_ZSTD = 32015  # registered HDF5 Zstandard filter (one plain zstd frame)
_BLOSC = 32001  # registered HDF5 Blosc filter (one self-describing Blosc1 frame)
_BITSHUFFLE = 32008  # kiyo-masui/bitshuffle's registered filter
_ZFP = 32013  # H5Z-ZFP's registered filter (lossy float; zfpio.py)


def _bshuf_default_block_elems(elem_size: int) -> int:
    """bitshuffle's ``bshuf_default_block_size``: target 8192 bytes per
    block, rounded down to the required multiple of 8 elements, floored
    at BSHUF_MIN_RECOMMEND_BLOCK = 128 (the library pins this formula
    as stable across versions — the floor matters for elem sizes > 64
    bytes, where 8192/elem rounds below 128)."""
    block = (8192 // max(elem_size, 1)) // 8 * 8
    return max(block, 128)


def _bshuf_spans(n_elem: int, block_elems: int):
    """Block spans of bitshuffle's ``bshuf_blocked_wrap_fun``: full
    blocks of ``block_elems``, then one last partial block of
    ``n_elem % block_elems`` rounded DOWN to a multiple of 8 (processed
    like a full block), then a raw tail of ``n_elem % 8`` elements that
    is copied verbatim (bit-transpose needs 8-element groups)."""
    spans = []
    pos = 0
    for _ in range(n_elem // block_elems):
        spans.append((pos, block_elems))
        pos += block_elems
    last = (n_elem % block_elems) // 8 * 8
    if last:
        spans.append((pos, last))
        pos += last
    return spans, pos  # pos = first raw-tail element


def hdf5_bitshuffle_decompress(
    data: bytes,
    elem_size: int,
    compression: str = "lz4",
    block_elems: int = 0,
) -> bytes:
    """Decode the registered HDF5 bitshuffle filter (id 32008; public
    format per kiyo-masui/bitshuffle ``bshuf_h5filter.c``).

    With internal compression (cd[4] = 2 → LZ4, 3 → zstd) the chunk
    stream is: 8-byte BE total uncompressed size, 4-byte BE block size
    in BYTES, then per block a 4-byte BE compressed size + the
    compressed payload of that block's bitshuffled bytes (LZ4 *block*
    format / one zstd frame), and finally the raw unshuffled tail of
    ``n_elem % 8`` elements. Without compression the chunk is the
    blocked bitshuffle of the raw bytes at the cd-value block size
    (0 → the library's default-block formula), same size as the input.
    """
    from .codecs import bitunshuffle_bytes, lz4_block_decompress, zstd_decompress

    data = bytes(data)
    if compression == "none":
        block_elems = block_elems or _bshuf_default_block_elems(elem_size)
        n_elem = len(data) // elem_size
        spans, tail_elem = _bshuf_spans(n_elem, block_elems)
        out = bytearray()
        for start, nel in spans:
            off = start * elem_size
            out += bitunshuffle_bytes(data[off : off + nel * elem_size], elem_size)
        out += data[tail_elem * elem_size :]
        return bytes(out)
    total = int.from_bytes(data[:8], "big")
    block_bytes = int.from_bytes(data[8:12], "big")
    block_elems = max(block_bytes // max(elem_size, 1), 8)
    n_elem = total // elem_size
    spans, tail_elem = _bshuf_spans(n_elem, block_elems)
    out = bytearray()
    p = 12
    for _, nel in spans:
        dsize = nel * elem_size
        csize = int.from_bytes(data[p : p + 4], "big")
        p += 4
        payload = data[p : p + csize]
        p += csize
        if compression == "zstd":
            sh = zstd_decompress(payload, dsize)
        else:
            sh = lz4_block_decompress(payload, dsize)
        out += bitunshuffle_bytes(sh, elem_size)
    out += data[p : p + (total - tail_elem * elem_size)]
    return bytes(out)


def hdf5_bitshuffle_compress(
    data: bytes,
    elem_size: int,
    compression: str = "lz4",
    block_elems: int = 0,
) -> bytes:
    """Encode the HDF5 bitshuffle filter stream (the inverse of
    :func:`hdf5_bitshuffle_decompress`; every block is compressed — the
    32008 framing has no stored-raw escape, unlike filter 32004)."""
    from .codecs import bitshuffle_bytes, lz4_block_compress, zstd_compress

    data = bytes(data)
    block_elems = block_elems or _bshuf_default_block_elems(elem_size)
    if block_elems % 8:
        raise ValueError("bitshuffle block size must be a multiple of 8 elements")
    n_elem = len(data) // elem_size
    spans, tail_elem = _bshuf_spans(n_elem, block_elems)
    if compression == "none":
        out = bytearray()
        for start, nel in spans:
            off = start * elem_size
            out += bitshuffle_bytes(data[off : off + nel * elem_size], elem_size)
        out += data[tail_elem * elem_size :]
        return bytes(out)
    out = bytearray()
    out += len(data).to_bytes(8, "big")
    out += (block_elems * elem_size).to_bytes(4, "big")
    for start, nel in spans:
        off = start * elem_size
        sh = bitshuffle_bytes(data[off : off + nel * elem_size], elem_size)
        comp = zstd_compress(sh) if compression == "zstd" else lz4_block_compress(sh)
        out += len(comp).to_bytes(4, "big")
        out += comp
    out += data[tail_elem * elem_size :]
    return bytes(out)


def hdf5_lz4_decompress(data: bytes) -> bytes:
    """Decode the registered HDF5 LZ4 filter framing (public spec from
    the filter registration: 8-byte BE total decompressed size, 4-byte BE
    block size, then per block a 4-byte BE compressed size + an LZ4
    *block*-format payload; a block whose compressed size equals its
    decompressed size is stored raw)."""
    from .codecs import lz4_block_decompress

    data = bytes(data)
    total = int.from_bytes(data[:8], "big")
    bsize = int.from_bytes(data[8:12], "big")
    if bsize <= 0 or bsize > total:
        bsize = total
    out = bytearray()
    p = 12
    while len(out) < total:
        csize = int.from_bytes(data[p : p + 4], "big")
        p += 4
        dsize = min(bsize, total - len(out))
        if csize == dsize:
            out += data[p : p + dsize]
        else:
            out += lz4_block_decompress(data[p : p + csize], dsize)
        p += csize
    return bytes(out)


def hdf5_lz4_compress(data: bytes, block_size: int = 1 << 30) -> bytes:
    """Encode the HDF5 LZ4 filter framing (the inverse of
    :func:`hdf5_lz4_decompress`; blocks fall back to stored-raw when LZ4
    does not shrink them, per the registered filter's convention)."""
    from .codecs import lz4_block_compress

    data = bytes(data)
    total = len(data)
    bsize = min(block_size, total) if total else block_size
    out = bytearray()
    out += total.to_bytes(8, "big")
    out += bsize.to_bytes(4, "big")
    for off in range(0, total, max(bsize, 1)):
        block = data[off : off + bsize]
        comp = lz4_block_compress(block)
        if len(comp) >= len(block):
            comp = block  # stored raw; csize == dsize signals it
        out += len(comp).to_bytes(4, "big")
        out += comp
    return bytes(out)


def lzf_decompress(data: bytes) -> bytes:
    """Decompress the LZF format (Marc Lehmann's libzf, the public
    algorithm behind h5py's LZF filter): control byte < 32 → literal run
    of (ctrl+1) bytes; otherwise a back-reference of length
    (ctrl>>5)+2 (+extension byte when the 3-bit length saturates) at
    distance ((ctrl&0x1f)<<8 | next)+1, copied byte-wise (overlap OK)."""
    data = bytes(data)
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ctrl = data[i]
        i += 1
        if ctrl < 32:
            cnt = ctrl + 1
            if i + cnt > n:
                raise ValueError("lzf: truncated literal run")
            out += data[i : i + cnt]
            i += cnt
        else:
            ln = ctrl >> 5
            if ln == 7:
                ln += data[i]
                i += 1
            ln += 2
            ref = len(out) - (((ctrl & 0x1F) << 8) | data[i]) - 1
            i += 1
            if ref < 0:
                raise ValueError("lzf: back-reference before stream start")
            for _ in range(ln):
                out.append(out[ref])
                ref += 1
    return bytes(out)


def lzf_compress(data: bytes) -> bytes:
    """Greedy LZF compressor (3-byte hash chain, distances ≤ 8191,
    match length ≤ 264, literal runs ≤ 32) — enough to generate real
    compressed fixtures; always produces a valid LZF stream."""
    data = bytes(data)
    n = len(data)
    out = bytearray()
    table: Dict[bytes, int] = {}
    lit_start = 0
    i = 0

    def flush(upto: int) -> None:
        j = lit_start
        while j < upto:
            cnt = min(32, upto - j)
            out.append(cnt - 1)
            out.extend(data[j : j + cnt])
            j += cnt

    while i < n - 2:
        key = data[i : i + 3]
        cand = table.get(key)
        table[key] = i
        if cand is not None and 0 < i - cand <= 8191:
            maxlen = min(n - i, 264)
            ln = 3
            while ln < maxlen and data[cand + ln] == data[i + ln]:
                ln += 1
            flush(i)
            dist = i - cand - 1
            enc_len = ln - 2
            if enc_len < 7:
                out.append((enc_len << 5) | (dist >> 8))
            else:
                out.append((7 << 5) | (dist >> 8))
                out.append(enc_len - 7)
            out.append(dist & 0xFF)
            i += ln
            lit_start = i
        else:
            i += 1
    flush(n)
    return bytes(out)


# HDF5 filter id -> codec name: a filter is supported when its codec has
# an entry in ZarrArray's codec table
_FILTER_CODECS = {
    _DEFLATE: "gzip", _SHUFFLE: "hdf5-shuffle", _FLETCHER32: "hdf5-fletcher32",
    _SZIP: "hdf5-szip", _BZIP2: "hdf5-bzip2", _LZF: "hdf5-lzf", _LZ4: "hdf5-lz4",
    _ZSTD: "hdf5-zstd", _BLOSC: "hdf5-blosc", _BITSHUFFLE: "hdf5-bitshuffle",
    _ZFP: "hdf5-zfp",
}


def hdf5_codec_chain(
    filters, itemsize: int, where: str, endian: str = "little"
) -> List[dict]:
    """The codec chain of an HDF5 filter pipeline ``[(filter id, client
    data)]``: ``bytes``, then one codec per filter in the pipeline's
    (application) order, which ``ZarrArray`` walks forward to encode and
    in reverse to decode. Shared by the HDF5 and DMR++ scanners."""
    from .zarrio import _codecs

    unsupported = [
        fid for fid, _ in filters if _FILTER_CODECS.get(fid) not in _codecs()
    ]
    if unsupported:
        raise NotImplementedError(
            f"{where}: HDF5 filters {unsupported} unsupported (only "
            f"{', '.join(_FILTER_CODECS.values())})"
        )
    chain = [{"name": "bytes", "configuration": {"endian": endian}}]
    for fid, cd in filters:
        codec = {"name": _FILTER_CODECS[fid]}
        if fid == _SHUFFLE:
            codec["configuration"] = {"elementsize": itemsize}
        elif fid == _DEFLATE:
            codec["configuration"] = {"level": 1}
        elif fid == _BITSHUFFLE:
            # bshuf_h5filter cd values: (major, minor, elem_size,
            # block_size_elems [0 = library default], compression
            # [0 none / 2 LZ4 / 3 zstd], level)
            cdt = tuple(cd) + (0, 0, 0, 0, 0)
            comp = {0: "none", 2: "lz4", 3: "zstd"}.get(int(cdt[4]))
            if comp is None:
                raise NotImplementedError(
                    f"{where}: bitshuffle internal compression code "
                    f"{cdt[4]} unsupported"
                )
            codec["configuration"] = {
                # the filter transposed with ITS recorded elem size (cd[2],
                # set by set_local from the HDF5 type) — trust it over the
                # mapped numpy itemsize when present
                "elementsize": int(cdt[2]) or itemsize,
                "blockelems": int(cdt[3]),
                "compression": comp,
            }
        elif fid == _SZIP:
            om, bpp, ppb, pps = (tuple(cd) + (0, 0, 0, 0))[:4]
            codec["configuration"] = {
                "options_mask": int(om),
                "bits_per_pixel": int(bpp),
                "pixels_per_block": int(ppb),
                "pixels_per_scanline": int(pps),
            }
        chain.append(codec)
    return chain


def scan_hdf5(path: str, inline_threshold: int = 300) -> dict:
    """Kerchunk-style virtual-Zarr references into an HDF5/netCDF4 file
    (native analog of kerchunk ``SingleHdf5ToZarr``; reference
    ``openers.py:137-204``). Header walk only — no array bytes read."""
    from .kerchunkio import ZARR_JSON, _array_meta, _inline

    reader = _Reader(path)
    try:
        url = ref_url(path)
        refs: Dict[str, object] = {}
        entries = {}
        for name, info in reader.datasets.items():
            if info["dtype"]["kind"] in ("string", "vlen_string", "reference", "vlen"):
                continue  # metadata datasets (no array analog)
            entries[name] = (info, _dims_for(name, info, reader))
        group_attrs = {
            k: v
            for k, v in reader.group_attrs.items()
            if k not in _NC_HIDDEN_ATTRS
        }
        refs[ZARR_JSON] = json.dumps(
            {"zarr_format": 3, "node_type": "group", "attributes": group_attrs}
        )
        for name, (info, dims) in entries.items():
            np_dtype = np.dtype(info["dtype"]["kind"])
            attributes = {
                k: v for k, v in info["attrs"].items() if k not in _NC_HIDDEN_ATTRS
            }
            if info.get("layout") == "chunked":
                chunk_shape = info["chunk"]
            else:
                chunk_shape = info["shape"] or [1]
            meta = _array_meta(
                info["shape"], chunk_shape, np_dtype.name, attributes, dims
            )
            meta["codecs"] = hdf5_codec_chain(
                info.get("filters", []),
                np_dtype.itemsize,
                f"{path}:{name}",
                "big" if np_dtype.byteorder == ">" else "little",
            )
            if info.get("fill"):
                fill = np.frombuffer(info["fill"], dtype=np_dtype, count=1)[0]
                meta["fill_value"] = (
                    float(fill) if np_dtype.kind == "f" else int(fill)
                )
            refs[f"{name}/{ZARR_JSON}"] = json.dumps(meta)
            if info.get("layout") == "contiguous":
                if info["data_addr"] == _UNDEF:
                    continue  # never-written data → all fill
                key = "/".join([name, "c"] + ["0"] * max(len(info["shape"]), 1))
                refs[key] = [url, info["data_addr"], info["data_size"]]
            elif info.get("layout") == "chunked":
                for offsets, addr, nbytes in reader.chunks(info):
                    idx = [o // c for o, c in zip(offsets, chunk_shape)]
                    key = "/".join([name, "c"] + [str(i) for i in idx])
                    refs[key] = [url, addr, nbytes]
            elif info.get("layout") == "compact":
                key = "/".join([name, "c"] + ["0"] * max(len(info["shape"]), 1))
                inline = _inline(info["data"], max(inline_threshold, len(info["data"])))
                refs[key] = inline
        return refs
    finally:
        reader.close()


def hdf5_schema(path: str) -> dict:
    """Header-only schema of an HDF5/netCDF4 file (engine schema shape —
    same contract as ``netcdf3_schema``/``npz_schema``)."""
    reader = _Reader(path)
    try:
        schema = {
            "attrs": {
                k: v
                for k, v in reader.group_attrs.items()
                if k not in _NC_HIDDEN_ATTRS
            },
            "coords": {},
            "data_vars": {},
            "dims": {},
            "chunks": {},
        }
        for name, info in reader.datasets.items():
            if info["dtype"]["kind"] in ("string", "vlen_string", "reference", "vlen"):
                continue
            dims = _dims_for(name, info, reader)
            attrs = {
                k: v for k, v in info["attrs"].items() if k not in _NC_HIDDEN_ATTRS
            }
            dtype = str(np.dtype(info["dtype"]["kind"]))
            encoding = {}
            if (
                "units" in attrs
                and "calendar" in attrs
                and " since " in str(attrs["units"])
            ):
                encoding = {
                    "units": attrs.pop("units"),
                    "calendar": attrs.pop("calendar"),
                }
                if is_standard_calendar(encoding["calendar"]):
                    dtype = "datetime64[ns]"
            entry = {
                "dims": dims,
                "attrs": attrs,
                "dtype": dtype,
                "shape": list(info["shape"]),
                "encoding": encoding,
            }
            for d, s in zip(dims, info["shape"]):
                schema["dims"][d] = s
            role = "coords" if list(dims) == [name] else "data_vars"
            schema[role][name] = entry
        return schema
    finally:
        reader.close()


def read_hdf5(path: str) -> NDDataset:
    """Full decode of an HDF5/netCDF4 file via its own byte-range
    references (scan once, then read through the virtual Zarr store)."""
    from .kerchunkio import open_reference_dataset

    ds = open_reference_dataset(scan_hdf5(path))
    # CF-decode standard-calendar time coords (virtual store keeps ints)
    out_coords = {}
    for name, var in ds.coords.items():
        attrs = dict(var.attrs)
        if (
            "units" in attrs
            and "calendar" in attrs
            and " since " in str(attrs["units"])
            and var.data.dtype.kind in "iu"
            and is_standard_calendar(attrs["calendar"])
        ):
            units, calendar = attrs.pop("units"), attrs.pop("calendar")
            out_coords[name] = Variable(
                var.dims,
                decode_cf_datetime(var.data, units, calendar),
                attrs,
                {"units": units, "calendar": calendar},
            )
        else:
            out_coords[name] = var
    return NDDataset(dict(ds.data_vars), out_coords, dict(ds.attrs), dict(ds.sizes))


# ===========================================================================
# minimal writer (fixture generator — valid HDF5 per the public spec)
# ===========================================================================


def _dt_message(dtype: np.dtype) -> bytes:
    dtype = dtype.newbyteorder("<") if dtype.byteorder == "=" else dtype
    if dtype.kind in "iu":
        bits = 0x08 if dtype.kind == "i" else 0
        body = bytes([0x10 | 0x0, bits, 0, 0])  # v1, class 0, LE
        body += struct.pack("<I", dtype.itemsize)
        body += struct.pack("<HH", 0, dtype.itemsize * 8)
        return body
    if dtype.kind == "f":
        # IEEE LE float: bitfield 0x20 (mantissa normalization msb set)
        body = bytes([0x11, 0x20, 0x3F, 0])
        body += struct.pack("<I", dtype.itemsize)
        if dtype.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        return body + props
    if dtype.kind in "SU":
        size = dtype.itemsize if dtype.kind == "S" else dtype.itemsize // 4
        return bytes([0x13, 0, 0, 0]) + struct.pack("<I", size)
    raise NotImplementedError(f"writer: dtype {dtype} unsupported")


def _ds_message(shape: Tuple[int, ...]) -> bytes:
    body = bytes([1, len(shape), 0, 0, 0, 0, 0, 0])
    for s in shape:
        body += struct.pack("<Q", s)
    return body


def _attr_message(name: str, value) -> bytes:
    if isinstance(value, str):
        value = [value]
        shape: Tuple[int, ...] = ()
        scalar = True
    elif isinstance(value, (int, float)):
        shape = ()
        scalar = True
        value = [value]
    else:
        value = list(value)
        shape = (len(value),)
        scalar = False
    if all(isinstance(v, str) for v in value):
        size = max(max((len(v.encode()) for v in value), default=0) + 1, 1)
        dt = bytes([0x13, 0, 0, 0]) + struct.pack("<I", size)
        data = b"".join(v.encode().ljust(size, b"\x00") for v in value)
    else:
        arr = np.asarray(value, dtype="float64" if any(
            isinstance(v, float) for v in value
        ) else "int64")
        dt = _dt_message(arr.dtype)
        data = arr.astype(arr.dtype.newbyteorder("<")).tobytes()
    ds = _ds_message(() if scalar else shape)

    def pad8(b: bytes) -> bytes:
        return b + b"\x00" * ((8 - len(b) % 8) % 8)

    nameb = name.encode() + b"\x00"
    body = struct.pack("<BBHHH", 1, 0, len(nameb), len(dt), len(ds))
    body += pad8(nameb) + pad8(dt) + pad8(ds) + data
    return body


def _message(mtype: int, body: bytes) -> bytes:
    body = body + b"\x00" * ((8 - len(body) % 8) % 8)
    return struct.pack("<HHBBBB", mtype, len(body), 0, 0, 0, 0) + body


def _object_header_v1(messages: List[bytes]) -> bytes:
    payload = b"".join(messages)
    hdr = struct.pack("<BBHII", 1, 0, len(messages), 1, len(payload))
    return hdr + b"\x00" * 4 + payload


def write_hdf5(
    path: str,
    ds: NDDataset,
    chunks: Optional[Dict[str, int]] = None,
    compress=False,
    shuffle: bool = False,
    fletcher32=False,
    zfp_opts=None,
) -> None:
    """Write an NDDataset as a flat HDF5 file (superblock v0, v1 object
    headers, symbol-table root group, ``_ARRAY_DIMENSIONS`` attributes —
    the xarray/kerchunk convention). Used to generate scanner fixtures;
    datetimes are CF-encoded like the engine's other containers.
    ``compress``: False, True/'deflate' (zlib), 'lzf' (h5py's filter
    32000), 'szip' (CCSDS 121 extended-Rice NN mode, filter 4),
    'bzip2' (hdf5plugin's registered filter 307, stdlib ``bz2``),
    'lz4' (registered filter 32004, block framing + LZ4 blocks),
    'zstd' (registered filter 32015, one plain zstd frame), 'blosc'
    (registered filter 32001, one self-describing Blosc1 frame), or
    'bitshuffle' (kiyo-masui's registered filter 32008, blocked
    bit-transpose + per-block LZ4), or 'zfp' (H5Z-ZFP's registered
    filter 32013 — LOSSY float coding via zfpio.py; ``zfp_opts``
    selects the mode, default ``{"tolerance": 1e-9}``; non-float or
    >3-D variables store uncompressed; zfp composes with no other
    filter)."""
    from .dsio import _encode_for_store

    if compress not in (
        False, None, True, "deflate", "gzip", "lzf", "szip", "bzip2",
        "lz4", "zstd", "blosc", "bitshuffle", "zfp",
    ):
        raise ValueError(
            f"compress={compress!r}; use False, 'deflate', 'lzf', 'szip', "
            "'bzip2', 'lz4', 'zstd', 'blosc', 'bitshuffle' or 'zfp'"
        )
    if compress == "zfp" and (shuffle or fletcher32):
        raise ValueError(
            "zfp composes with no other filter (chunks are "
            "self-contained typed streams)"
        )
    use_lzf = compress == "lzf"
    use_szip = compress == "szip"
    use_bzip2 = compress == "bzip2"
    use_lz4 = compress == "lz4"
    use_zstd = compress == "zstd"
    use_blosc = compress == "blosc"
    use_bshuf = compress == "bitshuffle"
    use_zfp = compress == "zfp"
    chunks = chunks or {}
    variables = {**ds.coords, **ds.data_vars}
    names = sorted(variables)

    blobs: List[bytes] = []
    cursor = [96]  # superblock size

    def alloc(b: bytes) -> int:
        addr = cursor[0]
        blobs.append(b)
        cursor[0] += len(b)
        return addr

    header_addrs: Dict[str, int] = {}
    for name in names:
        var = variables[name]
        attrs = dict(var.attrs)
        data = _encode_for_store(var, attrs)
        if var.data.dtype.kind == "M":
            enc = var.encoding or {}
            attrs["units"] = enc.get("units", "nanoseconds since 1970-01-01")
            attrs["calendar"] = enc.get("calendar", "proleptic_gregorian")
        elif var.encoding.get("units") and var.encoding.get("calendar"):
            attrs["units"] = var.encoding["units"]
            attrs["calendar"] = var.encoding["calendar"]
        data = np.ascontiguousarray(data)
        dt = data.dtype.newbyteorder("<")
        data = data.astype(dt, copy=False)
        msgs = [
            _message(0x0001, _ds_message(data.shape)),
            _message(0x0003, _dt_message(dt)),
            _message(
                0x0005, struct.pack("<BBBB", 2, 2, 0, 0)
            ),  # fill v2, undefined
        ]
        # encoded data can gain a dimension over var.dims (0-d scalars
        # store as shape (1,)); zip over var.dims alone then yields an
        # EMPTY chunk grid and a corrupt chunked layout, so fall back to
        # the data's own shape for any unmatched trailing axes
        dim_names = list(var.dims) + [None] * (data.ndim - len(var.dims))
        chunk_dims = [
            chunks.get(d, s) if d is not None else s
            for d, s in zip(dim_names, data.shape)
        ]
        # szip cannot code fewer points than one block (H5Zszip refuses
        # too), and the extended-aperture coder tops out at 32 bits per
        # pixel (H5Zszip's can_apply rejects wider types); scalar / tiny /
        # 64-bit variables fall back to contiguous or deflate storage
        var_szip = (
            use_szip
            and data.ndim >= 1
            and int(np.prod(chunk_dims, dtype=np.int64)) >= 16
            and dt.itemsize <= 4
        )
        # float32/float64 in 1-3 dims only — float16 (and any other
        # width) falls back to uncompressed storage like szip's gate,
        # rather than raising mid-write
        var_zfp = (
            use_zfp
            and dt.kind == "f"
            and dt.itemsize in (4, 8)
            and 1 <= data.ndim <= 3
        )
        eff_compress = False if (
            (use_szip and not var_szip) or (use_zfp and not var_zfp)
        ) else compress
        chunked = eff_compress or shuffle or list(chunk_dims) != list(data.shape)
        if var_szip:
            from .szip import (
                SZ_ALLOW_K13_OPTION_MASK,
                SZ_LSB_OPTION_MASK,
                SZ_NN_OPTION_MASK,
                szip_compress,
            )

            sz_bpp = dt.itemsize * 8
            sz_ppb = 16
            # H5Zszip-style scanline: the fastest-changing chunk dim,
            # floored at one block, capped at 128 blocks
            sz_pps = min(max(int(chunk_dims[-1]), sz_ppb), 128 * sz_ppb)
            sz_mask = (
                SZ_NN_OPTION_MASK
                | SZ_LSB_OPTION_MASK
                | SZ_ALLOW_K13_OPTION_MASK
            )
        if not chunked:
            addr = alloc(data.tobytes())
            layout = struct.pack("<BB", 3, 1) + struct.pack(
                "<QQ", addr, data.nbytes
            )
            msgs.append(_message(0x0008, layout))
        else:
            rank = data.ndim
            chunk_entries = []
            grid = [range(0, s, c) for s, c in zip(data.shape, chunk_dims)]
            import itertools

            for origin in itertools.product(*grid):
                sl = tuple(
                    slice(o, min(o + c, s))
                    for o, c, s in zip(origin, chunk_dims, data.shape)
                )
                block = np.zeros(chunk_dims, dtype=dt)
                block[tuple(slice(0, sp.stop - sp.start) for sp in sl)] = data[sl]
                raw = block.tobytes()
                if fletcher32 == "first":
                    # netcdf-c placement: checksum the RAW stream before
                    # shuffle/compression
                    raw += struct.pack("<I", hdf5_fletcher32(raw))
                if shuffle and dt.itemsize > 1:
                    es = dt.itemsize
                    n = len(raw) // es * es
                    raw = (
                        np.frombuffer(raw[:n], dtype=np.uint8)
                        .reshape(-1, es)
                        .T.tobytes()
                        + raw[n:]
                    )
                if use_lzf:
                    raw = lzf_compress(raw)
                elif var_szip:
                    raw = szip_compress(raw, sz_mask, sz_bpp, sz_ppb, sz_pps)
                elif use_bzip2:
                    import bz2

                    raw = bz2.compress(raw, 9)
                elif use_lz4:
                    raw = hdf5_lz4_compress(raw)
                elif use_zstd:
                    from .codecs import zstd_compress

                    raw = zstd_compress(raw)
                elif use_blosc:
                    from .codecs import blosc_compress

                    raw = blosc_compress(raw, typesize=dt.itemsize)
                elif use_bshuf:
                    raw = hdf5_bitshuffle_compress(raw, dt.itemsize)
                elif var_zfp:
                    # lossy: compress the TYPED chunk, not its bytes
                    from .zfpio import compress_zfp

                    raw = compress_zfp(
                        block, **(zfp_opts or {"tolerance": 1e-9})
                    )
                elif eff_compress:
                    raw = zlib.compress(raw, 4)
                if fletcher32 and fletcher32 != "first":
                    # h5py placement: the checksum filter is LAST in the
                    # pipeline, wrapping the compressed stream
                    raw += struct.pack("<I", hdf5_fletcher32(raw))
                caddr = alloc(raw)
                chunk_entries.append((origin, caddr, len(raw)))
            # single level-0 chunk B-tree node
            key_size = 8 + 8 * (rank + 1)
            node = b"TREE" + struct.pack(
                "<BBHQQ", 1, 0, len(chunk_entries), _UNDEF, _UNDEF
            )
            for origin, caddr, nbytes in chunk_entries:
                key = struct.pack("<II", nbytes, 0)
                for o in origin:
                    key += struct.pack("<Q", o)
                key += struct.pack("<Q", 0)
                node += key + struct.pack("<Q", caddr)
            # trailing sentinel key
            key = struct.pack("<II", 0, 0) + b"\x00" * 8 * (rank + 1)
            node += key
            btree_addr = alloc(node)
            layout = struct.pack("<BBB", 3, 2, rank + 1)
            layout += struct.pack("<Q", btree_addr)
            for c in chunk_dims:
                layout += struct.pack("<I", c)
            layout += struct.pack("<I", dt.itemsize)
            msgs.append(_message(0x0008, layout))
            if eff_compress or shuffle or fletcher32:
                entries = []
                if shuffle:
                    fname = b"shuffle\x00"
                    entries.append(
                        struct.pack("<HHHH", _SHUFFLE, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", dt.itemsize)
                        + struct.pack("<I", 0)
                    )
                if use_lzf:
                    fname = b"lzf\x00\x00\x00\x00\x00"
                    # h5py's three client values: (filter version, lzf
                    # version, uncompressed chunk bytes); odd count → one
                    # 4-byte pad per the v1 pipeline message layout
                    entries.append(
                        struct.pack("<HHHH", _LZF, len(fname), 1, 3)
                        + fname
                        + struct.pack("<III", 4, 261, int(np.prod(chunk_dims)) * dt.itemsize)
                        + struct.pack("<I", 0)
                    )
                elif var_szip:
                    fname = b"szip\x00\x00\x00\x00"
                    # H5Zszip's four client values: (options_mask,
                    # bits_per_pixel, pixels_per_block, pixels_per_scanline)
                    entries.append(
                        struct.pack("<HHHH", _SZIP, len(fname), 1, 4)
                        + fname
                        + struct.pack("<IIII", sz_mask, sz_bpp, sz_ppb, sz_pps)
                    )
                elif use_bzip2:
                    fname = b"bzip2\x00\x00\x00"
                    # hdf5plugin's one client value: the bzip2 block size
                    # (1-9); odd count → one 4-byte pad (v1 layout)
                    entries.append(
                        struct.pack("<HHHH", _BZIP2, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", 9)
                        + struct.pack("<I", 0)
                    )
                elif use_lz4:
                    fname = b"lz4\x00\x00\x00\x00\x00"
                    # one client value: the framing block size (0 =
                    # filter default); odd count → one 4-byte pad
                    entries.append(
                        struct.pack("<HHHH", _LZ4, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", 0)
                        + struct.pack("<I", 0)
                    )
                elif use_zstd:
                    fname = b"zstd\x00\x00\x00\x00"
                    # one client value: the compression aggression level
                    entries.append(
                        struct.pack("<HHHH", _ZSTD, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", 1)
                        + struct.pack("<I", 0)
                    )
                elif use_bshuf:
                    fname = b"bitshuffle\x00\x00\x00\x00\x00\x00"
                    # bshuf_h5filter's client values: (major, minor,
                    # elem_size, block_size_elems [0 = library default],
                    # compression [2 = LZ4]); odd count → one 4-byte pad
                    entries.append(
                        struct.pack("<HHHH", _BITSHUFFLE, len(fname), 1, 5)
                        + fname
                        + struct.pack("<5I", 0, 4, dt.itemsize, 0, 2)
                        + struct.pack("<I", 0)
                    )
                elif use_blosc:
                    fname = b"blosc\x00\x00\x00"
                    # hdf5plugin's seven client values: (filter version,
                    # blosc version, typesize, chunk bytes, clevel,
                    # doshuffle, compcode 1=lz4) — advisory (the frame
                    # self-describes); odd count -> one 4-byte pad
                    entries.append(
                        struct.pack("<HHHH", _BLOSC, len(fname), 1, 7)
                        + fname
                        + struct.pack(
                            "<7I", 2, 2, dt.itemsize,
                            int(np.prod(chunk_dims)) * dt.itemsize, 5, 1, 1,
                        )
                        + struct.pack("<I", 0)
                    )
                elif var_zfp:
                    fname = b"zfp\x00\x00\x00\x00\x00"
                    # one client value (H5Z-ZFP library version word) —
                    # advisory: every chunk is a self-contained zfp
                    # stream with its own full header; odd count → one
                    # 4-byte pad per the v1 pipeline message layout
                    entries.append(
                        struct.pack("<HHHH", _ZFP, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", 0x0110)
                        + struct.pack("<I", 0)
                    )
                elif eff_compress:
                    fname = b"deflate\x00"
                    entries.append(
                        struct.pack("<HHHH", _DEFLATE, len(fname), 1, 1)
                        + fname
                        + struct.pack("<I", 4)
                        + struct.pack("<I", 0)
                    )
                fl_entry = struct.pack("<HHHH", _FLETCHER32, 0, 1, 0)
                if fletcher32 == "first":
                    # netcdf-c registers the checksum filter first
                    entries.insert(0, fl_entry)
                elif fletcher32:
                    entries.append(fl_entry)
                pipeline = struct.pack("<BB", 1, len(entries)) + b"\x00" * 6
                pipeline += b"".join(entries)
                msgs.append(_message(0x000B, pipeline))
        msgs.append(_message(0x000C, _attr_message("_ARRAY_DIMENSIONS", list(var.dims))))
        for aname, avalue in attrs.items():
            msgs.append(_message(0x000C, _attr_message(aname, avalue)))
        header_addrs[name] = alloc(_object_header_v1(msgs))

    # root group: local heap + SNOD + B-tree + object header
    heap_payload = bytearray(b"\x00" * 8)
    name_offsets = {}
    for name in names:
        name_offsets[name] = len(heap_payload)
        heap_payload += name.encode() + b"\x00"
        while len(heap_payload) % 8:
            heap_payload += b"\x00"
    heap_data_addr = alloc(bytes(heap_payload))
    heap_addr = alloc(
        b"HEAP"
        + struct.pack("<B3xQQQ", 0, len(heap_payload), _UNDEF, heap_data_addr)
    )
    snod = b"SNOD" + struct.pack("<BBH", 1, 0, len(names))
    for name in names:
        snod += struct.pack("<QQ", name_offsets[name], header_addrs[name])
        snod += struct.pack("<II", 0, 0) + b"\x00" * 16
    snod_addr = alloc(snod)
    btree = b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, _UNDEF, _UNDEF)
    btree += struct.pack("<Q", 0) + struct.pack("<Q", snod_addr)
    btree += struct.pack("<Q", name_offsets[names[-1]] if names else 0)
    btree_addr = alloc(btree)
    root_msgs = [
        _message(0x0011, struct.pack("<QQ", btree_addr, heap_addr)),
    ]
    for aname, avalue in ds.attrs.items():
        root_msgs.append(_message(0x000C, _attr_message(aname, avalue)))
    root_addr = alloc(_object_header_v1(root_msgs))
    eof = cursor[0]

    superblock = _SIGNATURE
    superblock += bytes([0, 0, 0, 0, 0, 8, 8, 0])
    superblock += struct.pack("<HH", 4, 16)
    superblock += struct.pack("<I", 0)
    superblock += struct.pack("<QQQQ", 0, _UNDEF, eof, _UNDEF)
    # root symbol table entry
    superblock += struct.pack("<QQ", 0, root_addr)
    superblock += struct.pack("<II", 1, 0)
    superblock += struct.pack("<QQ", btree_addr, heap_addr)
    assert len(superblock) == 96, len(superblock)

    with open(path, "wb") as f:
        f.write(superblock)
        for b in blobs:
            f.write(b)
