"""TFRecord shard writer/reader — the other public sequential-loader
convention (TensorFlow's) next to :mod:`.webdataset`.

Wire format (public TensorFlow spec, ``tensorflow/core/lib/io/
record_writer.cc`` docs): each record is framed as

    uint64 length (little-endian)
    uint32 masked_crc32c(length bytes)
    byte   data[length]
    uint32 masked_crc32c(data)

where ``masked_crc = rotr(crc32c(x), 15) + 0xa282ead8`` (mod 2**32).
Payloads are ``tf.train.Example`` protobuf messages; the minimal
proto3 wire-format codec below covers exactly the Example schema
(``Features = map<string, Feature>``; ``Feature`` = one of
``BytesList | FloatList | Int64List``) — no protobuf dependency.

Reference parity: the reference has no loader-side format (its job
ends at the Zarr/kerchunk store); this module closes the same
training-data loop as :func:`..operators.packing.write_webdataset_shards`
for TF-style consumers.

100 TB shape mirrors the tar writer: shard assignment is a JVM-side
md5 expression, ONE shuffle partitions by shard, each task streams
Arrow batches straight into the open file (memory = one batch, never a
shard), one file per task so no coordination or driver data path.
TFRecord files carry no sync markers, so a shard is a unit of
parallelism on the read side too — size ``n_shards`` well above the
executor count, exactly as TF's own sharded-input guidance says.
"""

from __future__ import annotations

import glob
import gzip
import os
import struct
from typing import Dict, Iterator, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_df

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli, reflected, poly 0x82F63B78).
#
# Two tiers behind one function:
#   * slice-by-8 pure-Python tables — the pinned reference (spec vectors
#     below exercise it) and the tail/small-input path;
#   * a numpy-vectorized block path for payloads >= _NP_MIN bytes. CRC is
#     linear over GF(2), so consuming a W-byte block B from register c is
#     ``c' = Z^W(c) XOR H(B)`` where Z is the one-zero-byte update and
#     ``H(B) = XOR_j G[j][B[j]]`` with ``G[j] = Z^(W-1-j) ∘ T0`` — the
#     textbook identity behind zlib's crc32_combine and the Intel
#     slicing papers. H gathers for ALL blocks in ONE numpy fancy-index
#     + xor-reduce; only the n/W-step register recurrence stays in
#     Python (4 byte-table lookups per block for the Z^W operator).
#     Measured ~10-25x over slice-by-8 (104 MB/s at 1 KB records,
#     ~260 MB/s at 64 KB) — the honest pure-Python answer to "drop in a
#     native crc32c at 100 TB" when no native wheel is available.
# ---------------------------------------------------------------------------

_POLY = 0x82F63B78


def _make_tables() -> List[List[int]]:
    t0 = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _POLY if c & 1 else c >> 1
        t0.append(c)
    tables = [t0]
    for k in range(1, 8):
        prev = tables[k - 1]
        tables.append([t0[prev[n] & 0xFF] ^ (prev[n] >> 8) for n in range(256)])
    return tables


_T = _make_tables()


#: block widths, coarse-to-fine: the 256-byte tier does the bulk, the
#: 32-byte tier keeps the pure-Python tail under 32 bytes (the tail was
#: the whole cost for the KB-scale records TFRecord actually carries)
_NP_WIDTHS = (256, 32)
#: minimum payload for the numpy path — below this the fancy-index call
#: overhead loses to the slice-by-8 loop (measured crossover ~64)
_NP_MIN = 64
_NP_TABLES: Dict[int, tuple] = {}  # width -> (G2D, jidx, M0..M3), lazy


def _build_np_tables(W: int) -> tuple:
    T0 = np.array(_T[0], dtype=np.uint32)
    G = np.empty((W, 256), dtype=np.uint32)
    v = T0.copy()
    for j in range(W - 1, -1, -1):  # G[j] = Z^(W-1-j) applied to T0
        G[j] = v
        v = (v >> np.uint32(8)) ^ T0[v & np.uint32(0xFF)]
    basis = np.array([1 << i for i in range(32)], dtype=np.uint32)
    zw = basis.copy()
    for _ in range(W):  # Z^W on each register basis bit
        zw = (zw >> np.uint32(8)) ^ T0[zw & np.uint32(0xFF)]
    M = []
    for k in range(4):  # expand the 32x32 GF(2) matrix into 4 byte tables
        m = [0] * 256
        for i in range(8):
            bit = int(zw[8 * k + i])
            step = 1 << i
            for x in range(step, 256, 2 * step):
                for y in range(x, min(x + step, 256)):
                    m[y] ^= bit
        M.append(m)
    return (G, np.arange(W), *M)


def _crc32c_py(data: bytes, crc: int = 0) -> int:
    """Slice-by-8 reference implementation (tails + small inputs)."""
    c = crc ^ 0xFFFFFFFF
    n = len(data)
    i = 0
    t0, t1, t2, t3, t4, t5, t6, t7 = _T
    while n - i >= 8:
        b = data[i : i + 8]
        c ^= b[0] | (b[1] << 8) | (b[2] << 16) | (b[3] << 24)
        c = (
            t7[c & 0xFF]
            ^ t6[(c >> 8) & 0xFF]
            ^ t5[(c >> 16) & 0xFF]
            ^ t4[(c >> 24) & 0xFF]
            ^ t3[b[4]]
            ^ t2[b[5]]
            ^ t1[b[6]]
            ^ t0[b[7]]
        )
        i += 8
    while i < n:
        c = t0[(c ^ data[i]) & 0xFF] ^ (c >> 8)
        i += 1
    return c ^ 0xFFFFFFFF


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C of ``data`` (optionally continuing from ``crc``)."""
    n = len(data)
    if n < _NP_MIN:
        return _crc32c_py(data, crc)
    mv = memoryview(data)
    c = (crc ^ 0xFFFFFFFF) & 0xFFFFFFFF
    pos = 0
    for W in _NP_WIDTHS:
        nb = (n - pos) // W
        if not nb:
            continue
        tables = _NP_TABLES.get(W)
        if tables is None:
            tables = _NP_TABLES[W] = _build_np_tables(W)
        G, jidx, M0, M1, M2, M3 = tables
        arr = np.frombuffer(mv, dtype=np.uint8, count=nb * W, offset=pos)
        arr = arr.reshape(nb, W)
        for hb in np.bitwise_xor.reduce(G[jidx, arr], axis=1).tolist():
            c = (
                M0[c & 0xFF]
                ^ M1[(c >> 8) & 0xFF]
                ^ M2[(c >> 16) & 0xFF]
                ^ M3[c >> 24]
                ^ hb
            )
        pos += nb * W
    if pos < n:
        return _crc32c_py(bytes(mv[pos:]), c ^ 0xFFFFFFFF)
    return c ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Record framing
# ---------------------------------------------------------------------------


def write_record(fh, payload: bytes) -> int:
    """Frame one record into ``fh``; returns bytes written."""
    header = struct.pack("<Q", len(payload))
    fh.write(header)
    fh.write(struct.pack("<I", _masked_crc(header)))
    fh.write(payload)
    fh.write(struct.pack("<I", _masked_crc(payload)))
    return len(payload) + 16


def iter_records(fh, on_corrupt: str = "error") -> Iterator[bytes]:
    """Yield record payloads from a framed stream, verifying both CRCs.

    ``on_corrupt``: ``"error"`` raises; ``"skip"`` stops at the first
    bad frame (a corrupt length word makes every later offset
    meaningless, so skipping *forward* is not possible without sync
    markers — TF's own reader behaves the same way).
    """
    if on_corrupt not in ("error", "skip"):
        raise ValueError(f"on_corrupt={on_corrupt!r}")
    while True:
        header = fh.read(8)
        if not header:
            return
        if len(header) < 8:
            if on_corrupt == "skip":
                return
            raise IOError("truncated TFRecord length header")
        hcrc_raw = fh.read(4)
        if len(hcrc_raw) < 4:
            if on_corrupt == "skip":
                return
            raise IOError("truncated TFRecord length CRC")
        (hcrc,) = struct.unpack("<I", hcrc_raw)
        if _masked_crc(header) != hcrc:
            if on_corrupt == "skip":
                return
            raise IOError("TFRecord length CRC mismatch")
        (length,) = struct.unpack("<Q", header)
        payload = fh.read(length)
        tail = fh.read(4)
        if len(payload) < length or len(tail) < 4:
            if on_corrupt == "skip":
                return
            raise IOError("truncated TFRecord payload")
        (dcrc,) = struct.unpack("<I", tail)
        if _masked_crc(payload) != dcrc:
            if on_corrupt == "skip":
                return
            raise IOError("TFRecord data CRC mismatch")
        yield payload


# ---------------------------------------------------------------------------
# Minimal tf.train.Example protobuf codec (proto3 wire format)
#   Example  { Features features = 1; }
#   Features { map<string, Feature> feature = 1; }
#   Feature  { oneof { BytesList bytes_list = 1; FloatList float_list = 2;
#                      Int64List int64_list = 3; } }
#   BytesList { repeated bytes value = 1; }
#   FloatList { repeated float value = 1 [packed]; }
#   Int64List { repeated int64 value = 1 [packed]; }
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, i: int) -> Tuple[int, int]:
    shift = 0
    n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def encode_feature(value) -> bytes:
    """Encode one feature value: bytes/str (or a list of them) →
    BytesList, list of ints → Int64List (packed), list of floats →
    FloatList (packed)."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    if isinstance(value, (bytes, bytearray)):
        return _ld(1, _ld(1, bytes(value)))
    vals = list(value) if not np.isscalar(value) else [value]
    if vals and all(isinstance(v, (str, bytes, bytearray)) for v in vals):
        body = b"".join(
            _ld(1, v.encode("utf-8") if isinstance(v, str) else bytes(v))
            for v in vals
        )
        return _ld(1, body)
    if all(isinstance(v, (int, np.integer)) for v in vals):
        packed = b"".join(_varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in vals)
        return _ld(3, _ld(1, packed))
    packed = np.asarray(vals, dtype="<f4").tobytes()
    return _ld(2, _ld(1, packed))


def encode_example(features: Dict[str, object]) -> bytes:
    """Serialize ``{name: value}`` to tf.train.Example bytes. Map entries
    are emitted in sorted-name order so bytes are deterministic."""
    body = bytearray()
    for name in sorted(features):
        v = features[name]
        if v is None:
            continue
        entry = _ld(1, name.encode("utf-8")) + _ld(2, encode_feature(v))
        body += _ld(1, entry)
    return bytes(_ld(1, bytes(body)))


def _decode_list(kind: int, payload: bytes):
    # kind: 1 bytes_list, 2 float_list, 3 int64_list
    i = 0
    out = []
    while i < len(payload):
        tag, i = _read_varint(payload, i)
        field, wire = tag >> 3, tag & 7
        if field != 1:
            raise ValueError(f"unexpected field {field} in feature list")
        if kind == 1:
            ln, i = _read_varint(payload, i)
            out.append(payload[i : i + ln])
            i += ln
        elif kind == 2:
            if wire == 2:  # packed
                ln, i = _read_varint(payload, i)
                out.extend(
                    np.frombuffer(payload, "<f4", count=ln // 4, offset=i).tolist()
                )
                i += ln
            else:  # unpacked fixed32
                out.append(struct.unpack_from("<f", payload, i)[0])
                i += 4
        else:
            if wire == 2:  # packed varints
                ln, i = _read_varint(payload, i)
                end = i + ln
                while i < end:
                    v, i = _read_varint(payload, i)
                    out.append(v - (1 << 64) if v >= 1 << 63 else v)
            else:
                v, i = _read_varint(payload, i)
                out.append(v - (1 << 64) if v >= 1 << 63 else v)
    return out


def decode_example(payload: bytes) -> Dict[str, list]:
    """Parse tf.train.Example bytes → ``{name: list-of-values}``
    (bytes for BytesList, float for FloatList, int for Int64List)."""
    i = 0
    feats: Dict[str, list] = {}
    while i < len(payload):
        tag, i = _read_varint(payload, i)
        if tag >> 3 != 1 or tag & 7 != 2:
            raise ValueError("not a tf.train.Example (expected features=1)")
        ln, i = _read_varint(payload, i)
        features_msg = payload[i : i + ln]
        i += ln
        j = 0
        while j < len(features_msg):
            etag, j = _read_varint(features_msg, j)
            if etag >> 3 != 1 or etag & 7 != 2:
                raise ValueError("bad Features map entry")
            eln, j = _read_varint(features_msg, j)
            entry = features_msg[j : j + eln]
            j += eln
            k = 0
            name = None
            value: list = []
            while k < len(entry):
                ftag, k = _read_varint(entry, k)
                fln, k = _read_varint(entry, k)
                fpay = entry[k : k + fln]
                k += fln
                if ftag >> 3 == 1:
                    name = fpay.decode("utf-8")
                else:
                    m = 0
                    while m < len(fpay):
                        vtag, m = _read_varint(fpay, m)
                        vln, m = _read_varint(fpay, m)
                        value = _decode_list(vtag >> 3, fpay[m : m + vln])
                        m += vln
            if name is not None:
                feats[name] = value
    return feats


# ---------------------------------------------------------------------------
# Spark writer / reader
# ---------------------------------------------------------------------------


def write_tfrecord_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: Optional[List[str]] = None,
    compress: Optional[str] = None,
) -> DataFrame:
    """Materialize the corpus as TFRecord shards: ``shard-00000.tfrecord``
    (``.tfrecord.gz`` with ``compress="gzip"``) holds one
    tf.train.Example per document — ``{id_col}`` as Int64List,
    ``{text_col}`` as BytesList, each ``meta_cols`` entry typed by its
    Spark type (integral→Int64List, fractional→FloatList,
    string/binary→BytesList). Keys ride in the canonical md5 order so a
    shard's bytes are a pure function of its contents.

    Returns the shard manifest ``(shard, n_docs, n_bytes, sha256)``.
    """
    import hashlib

    if compress not in (None, "gzip"):
        raise ValueError(f"compress={compress!r} (None or 'gzip')")
    meta_cols = list(meta_cols or [])
    from ..storage import prepare_output_dir

    prepare_output_dir(path)

    meta_kinds: Dict[str, str] = {}
    for name in meta_cols:
        dt = df.schema[name].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
            meta_kinds[name] = "int"
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            meta_kinds[name] = "float"
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            meta_kinds[name] = "bytes"
        else:
            raise ValueError(f"unsupported meta column type for TFRecord: {name}: {dt}")

    from ..operators.packing import _order_key, shard_assign

    assigned = (
        shard_assign(df, n_shards, id_col)
        .withColumn("__ord", _order_key(id_col))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__ord", id_col)
        .select("shard", id_col, text_col, *meta_cols)
    )
    ext = ".tfrecord.gz" if compress == "gzip" else ".tfrecord"

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None  # (shard, raw_fh, fh, sha, n_docs, n_bytes)
        out: List[tuple] = []

        def close():
            nonlocal cur
            if cur is None:
                return
            shard, raw, fh, sha, n_docs, n_bytes = cur
            if fh is not raw:
                fh.close()  # flush gzip trailer into the hashing wrapper
            raw.close()
            out.append((int(shard), int(n_docs), int(n_bytes), sha.hexdigest()))
            cur = None

        class _Hashing:
            def __init__(self, fh, sha):
                self._fh, self._sha = fh, sha

            def write(self, b):
                self._sha.update(b)
                return self._fh.write(b)

            def close(self):
                self._fh.close()

        for pdf in batches:
            shards_arr = pdf["shard"].to_numpy()
            ids_arr = pdf[id_col]
            texts_arr = pdf[text_col]
            metas_arr = {name: pdf[name] for name in meta_cols}
            for k in range(len(pdf)):
                if pd.isna(shards_arr[k]):  # md5 bucket of a NULL id
                    raise ValueError(
                        f"null {id_col!r} cannot key a TFRecord sample"
                    )
                shard = int(shards_arr[k])
                if cur is None or cur[0] != shard:
                    close()
                    import hashlib as _h

                    sha = _h.sha256()
                    from ..storage import open_output_stream

                    fname = os.path.join(path, f"shard-{shard:05d}{ext}")
                    raw = _Hashing(open_output_stream(fname), sha)
                    fh = (
                        gzip.GzipFile(fileobj=raw, mode="wb", mtime=0)
                        if compress == "gzip"
                        else raw
                    )
                    cur = [shard, raw, fh, sha, 0, 0]
                doc_id = ids_arr.iloc[k]
                if pd.isna(doc_id):
                    raise ValueError(
                        f"null {id_col!r} cannot key a TFRecord sample"
                    )
                text_v = texts_arr.iloc[k]
                feats: Dict[str, object] = {
                    id_col: [int(doc_id)],
                    # a NULL text stays a MISSING feature (encode skips
                    # None) — str(None) would corrupt it into "None"
                    text_col: None if text_v is None else str(text_v),
                }
                for name in meta_cols:
                    v = metas_arr[name].iloc[k]
                    if v is None or (np.isscalar(v) and pd.isna(v)):
                        feats[name] = None
                    elif meta_kinds[name] == "int":
                        feats[name] = [int(v)]
                    elif meta_kinds[name] == "float":
                        feats[name] = [float(v)]
                    else:
                        feats[name] = v
                n = write_record(cur[2], encode_example(feats))
                cur[4] += 1
                cur[5] += n
        close()
        if out:
            yield pd.DataFrame(out, columns=["shard", "n_docs", "n_bytes", "sha256"])

    manifest = assigned.mapInPandas(
        write, "shard int, n_docs long, n_bytes long, sha256 string"
    )
    return manifest


def _shard_paths(path_or_paths: Union[str, List[str]]) -> List[str]:
    if isinstance(path_or_paths, (list, tuple)):
        return [str(p) for p in path_or_paths]
    p = str(path_or_paths)
    from ..storage import is_http_url, is_object_url, list_shard_urls

    if is_http_url(p):  # one shard url (servers don't list; pass a list)
        return [p]
    if is_object_url(p):  # object stores DO list — expand the prefix
        return list_shard_urls(p, (".tfrecord", ".tfrecord.gz"))
    if os.path.isdir(p):
        return sorted(
            glob.glob(os.path.join(p, "*.tfrecord"))
            + glob.glob(os.path.join(p, "*.tfrecord.gz"))
        )
    if os.path.exists(p):
        return [p]
    return sorted(glob.glob(p))


def read_tfrecord(
    spark: SparkSession,
    path_or_paths: Union[str, List[str]],
    feature_types: Dict[str, str],
    batch_rows: int = 256,
    on_corrupt: str = "error",
    open_kwargs: Optional[Dict] = None,
) -> DataFrame:
    """Read TFRecord shards into typed columns.

    ``feature_types`` maps feature name → ``"int64" | "float" | "bytes"
    | "string"`` (string = BytesList utf-8 decoded). Single-element
    lists unwrap to scalars; multi-element int64/float lists surface as
    arrays. Rows are ``(shard, <features...>)``; within a shard rows
    arrive in record order. One task streams one shard (TFRecord has no
    sync markers, so the shard is the split unit — same contract as
    TF's sharded-input readers).
    """
    open_kwargs = dict(open_kwargs or {})
    kinds = {}
    for name, k in feature_types.items():
        if k not in ("int64", "float", "bytes", "string"):
            raise ValueError(f"feature_types[{name!r}]={k!r}")
        kinds[name] = k
    paths = _shard_paths(path_or_paths)
    if not paths:
        raise ValueError(f"no TFRecord shards match {path_or_paths!r}")
    pdf = local_df(spark, list(enumerate(paths)), "ord int, path string")
    pdf = pdf.repartitionByRange(len(paths), "ord").drop("ord")

    fields = []
    _scalar_t = {"int64": "long", "float": "double", "bytes": "binary", "string": "string"}
    _list_t = {"int64": "long", "float": "double", "bytes": "binary", "string": "string"}
    for name, k in kinds.items():
        fields.append(f"`{name}` {_scalar_t[k]}")
        # the companion _list column carries multi-element features for
        # EVERY kind — string/bytes lists included (they were silently
        # truncated to vals[0] before, r8 review finding)
        fields.append(f"`{name}_list` array<{_list_t[k]}>")
    schema = "shard string, " + ", ".join(fields)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: List[dict] = []
        cols = ["shard"]
        for name, k in kinds.items():
            cols += [name, f"{name}_list"]

        def emit():
            nonlocal rows
            if rows:
                yield_df = pd.DataFrame(rows, columns=cols)
                rows = []
                return yield_df
            return None

        from ..storage import open_shard_stream, shard_label

        for pdf_in in batches:
            for p in pdf_in["path"]:
                shard = shard_label(p)
                raw = open_shard_stream(p, open_kwargs)
                fh = None
                try:
                    fh = _gzip_if_magic(raw, path=p)
                    for payload in iter_records(fh, on_corrupt=on_corrupt):
                        feats = decode_example(payload)
                        row: dict = {"shard": shard}
                        for name, k in kinds.items():
                            vals = feats.get(name)
                            scalar = None
                            aslist = None
                            if vals:
                                if k == "string":
                                    decoded = [v.decode("utf-8") for v in vals]
                                    if len(decoded) == 1:
                                        scalar = decoded[0]
                                    else:
                                        aslist = decoded
                                elif k == "bytes":
                                    as_bytes = [bytes(v) for v in vals]
                                    if len(as_bytes) == 1:
                                        scalar = as_bytes[0]
                                    else:
                                        aslist = as_bytes
                                elif len(vals) == 1:
                                    scalar = vals[0]
                                else:
                                    aslist = [
                                        float(v) if k == "float" else int(v)
                                        for v in vals
                                    ]
                            row[name] = scalar
                            row[f"{name}_list"] = aslist
                        rows.append(row)
                        if len(rows) >= batch_rows:
                            out = emit()
                            if out is not None:
                                yield out
                finally:
                    # close BOTH even when the sniff read raised before
                    # fh existed, and even if fh.close() itself raises
                    # (GzipFile.close() leaves its fileobj open)
                    try:
                        if fh is not None:
                            fh.close()
                    finally:
                        raw.close()
        out = emit()
        if out is not None:
            yield out

    return pdf.mapInPandas(scan, schema)


class _PrefixedReader:
    """Binary reader that replays a sniffed prefix before the stream —
    lets the gzip magic check work on non-seekable http responses."""

    def __init__(self, head: bytes, fh):
        self._head, self._fh = head, fh

    def read(self, n: int = -1) -> bytes:
        if self._head:
            if n is None or n < 0:
                out = self._head + self._fh.read()
                self._head = b""
                return out
            take = self._head[:n]
            self._head = self._head[n:]
            if len(take) < n:
                take += self._fh.read(n - len(take))
            return take
        return self._fh.read(n)

    def close(self) -> None:
        self._fh.close()


def _gzip_if_magic(raw, path: Optional[str] = None):
    """Wrap ``raw`` in a gzip decoder when the shard is compressed.

    The filename extension decides when present (``.gz`` → gzip,
    ``.tfrecord``/``.tfrec`` → plain); magic-sniffing alone is WRONG for
    an uncompressed shard whose first record length ≡ 0x8B1F (little-
    endian) mod 2^16 — e.g. a 35615-byte first payload starts the file
    with the gzip magic ``1f 8b`` (~2^-16 per shard, a certainty across
    100 TB shard counts). For extensionless paths the sniff reads the
    first 12 bytes and prefers the PLAIN interpretation when they form
    a valid TFRecord length frame (masked CRC-32C of the length word
    matches — a gzip stream satisfies that too with only ~2^-32
    probability). Sniffed bytes replay into the returned stream."""
    if path is not None:
        name = path.split("?", 1)[0].split("#", 1)[0].rstrip("/")
        if name.endswith(".gz") or name.endswith(".gzip"):
            return gzip.GzipFile(fileobj=raw)
        if name.endswith(".tfrecord") or name.endswith(".tfrec"):
            return raw
    head = raw.read(12)
    stream = _PrefixedReader(head, raw)
    if head[:2] == b"\x1f\x8b":
        if len(head) >= 12:
            (hcrc,) = struct.unpack("<I", head[8:12])
            if _masked_crc(head[:8]) == hcrc:
                return stream  # valid plain frame that happens to start 1f 8b
        return gzip.GzipFile(fileobj=stream)
    return stream
