"""The Spark pipeline: manifest → open → schema → rechunk → Zarr/kerchunk.

This module is the engine's rendition of reference ``pangeo_forge_recipes/
transforms.py`` (the Beam PTransform library), re-expressed Spark-first:

* the file matrix is a **DataFrame manifest** ``(index, url)`` — built
  distributed for huge patterns (``spark.range`` + unravel);
* the schema reduction is a **two-pass design**: pass 1 reads *metadata
  only* (no array payloads) and reduces tiny schema rows; pass 2 streams
  data. The reference opens lazily once and trusts Beam fusion — at 100 TB
  on Spark that would force caching opened fragments across stages, so the
  metadata pre-pass is the scale-correct equivalent (same semantics:
  the combine kernel errors on any inconsistency either way);
* the metadata reduces — the schema and the kerchunk references — are
  **map-side partial folds finished on the driver**, one job each and no
  shuffle (reference combine-globally and bucketed reduces,
  ``transforms.py:276-301,428-554``);
* the rechunk is the engine's **single data shuffle**, one pipeline in
  every mode: pieces (open → split → explode by variable) → transport →
  one write kernel. The payload and spill modes group on the chunk key
  with ``groupBy(group_key).applyInArrow``; the reference mode
  range-partitions its ``(group_key, url)`` rows (reference flags the
  same GroupByKey as the one perf hazard, ``transforms.py:414``);
* combine + region-write are **fused in the same task** — a combined chunk
  is written where it is assembled and never crosses another exchange
  (Beam gets this via runner fusion; we get it by construction), only tiny
  status rows come back;
* writes are **idempotent aligned region puts** of disjoint keys, safe
  under task retries; speculative execution should stay off for the write
  stage (see reference non-idempotence warning for append,
  ``transforms.py:680-684``).
"""

from __future__ import annotations

import hashlib
import os
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable, Dict, Iterator, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregation import (
    XarraySchema,
    combine_xarray_schemas,
    dataset_to_schema,
    determine_target_chunks,
    schema_from_json,
    schema_to_json,
)
from .dsio import (
    _is_first_in_merge_dim,
    consolidate_dimension_coordinates as _consolidate_coords,
    open_zarr_group,
    schema_to_zarr,
    store_dataset_fragment,
    zarr_group_schema,
)
from .ndset import NDDataset
from .openers import open_url, open_with_ndset, open_with_kerchunk, read_schema
from .patterns import FilePattern, FileType
from .rechunking import combine_fragments, group_key_to_json, split_fragment
from .session import local_df
from .storage import CacheFSSpecTarget, FSSpecTarget, open_output_stream, url_range_get
from .types import CombineOp, Dimension, Index, augment_index_with_start_stop
from .zarrio import consolidate_metadata as _consolidate_metadata

MANIFEST_SCHEMA = "index string, url string"
SPLIT_SCHEMA = "group_key string, index string, payload binary"
REFS_SCHEMA = "group_key string, index string, url string"
STATUS_SCHEMA = "group_key string, index string, n_vars int, nbytes bigint"

# threshold above which the manifest is generated distributed rather than
# enumerated on the driver
_DRIVER_MANIFEST_MAX = 100_000


# ---------------------------------------------------------------------------
# manifest (the scan; reference ``patterns.py:214-228`` + beam.Create)
# ---------------------------------------------------------------------------


def manifest_df(spark: SparkSession, pattern: FilePattern) -> DataFrame:
    """DataFrame of ``(index, url)`` rows — the outer product of the
    pattern's combine-dim keys, in ``pattern.items()`` order. Small
    patterns are enumerated on the driver into an Arrow-built JVM
    ``LocalRelation`` (see :func:`~.session.local_df`), so no Python task
    runs to produce them; large ones unravel ``spark.range(N)`` inside
    executors so a 10^8-file pattern never sits in driver memory."""
    n = len(pattern)
    if n <= _DRIVER_MANIFEST_MAX:
        rows = [(idx.to_json(), url) for idx, url in pattern.items()]
        return local_df(spark, rows, MANIFEST_SCHEMA)

    # broadcasts pickle by reference; a pattern's format function is often
    # a closure (``pattern_from_file_sequence``), so ship it cloudpickled
    bc = spark.sparkContext.broadcast(cloudpickle.dumps(pattern))

    def unravel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat: FilePattern = cloudpickle.loads(bc.value)
        for pdf in batches:
            idxs = [pat.index_for_flat_position(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {"index": [i.to_json() for i in idxs], "url": [pat[i] for i in idxs]}
            )

    return spark.range(n).mapInPandas(unravel, MANIFEST_SCHEMA)


def prune_manifest(df: DataFrame, pattern: FilePattern, nkeep: int = 2) -> DataFrame:
    """Keep the first ``nkeep`` positions of each concat dim — the
    DataFrame-side equivalent of ``FilePattern.prune`` (reference
    ``patterns.py:235-260``), as a filter on the manifest."""
    concat_dims = set(pattern.concat_dims)

    @F.udf("boolean", useArrow=False)
    def keep(index_json: str) -> bool:
        idx = Index.from_json(index_json)
        return all(
            pos.value < nkeep
            for dim, pos in idx.items()
            if dim.name in concat_dims
        )

    return df.filter(keep("index"))


# ---------------------------------------------------------------------------
# url opening / caching (reference ``transforms.py:93-175``)
# ---------------------------------------------------------------------------


def open_urls_with_fsspec(
    df: DataFrame,
    cache: Optional[Union[str, CacheFSSpecTarget]] = None,
    secrets: Optional[dict] = None,
    open_kwargs: Optional[dict] = None,
    max_concurrency: Optional[int] = None,
) -> DataFrame:
    """Resolve/cache source urls (reference ``OpenURLWithFSSpec``,
    ``transforms.py:140-175``). ``max_concurrency`` caps simultaneous
    source-server connections by limiting partitions — Spark's rendition of
    ``MapWithConcurrencyLimit`` (``transforms.py:93-136``), with better
    balance than the reference's random-key grouping."""
    if isinstance(cache, str):
        cache = CacheFSSpecTarget.from_url(cache)
    if max_concurrency:
        df = df.repartition(max_concurrency)

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["url"] = [
                open_url(u, cache=cache, secrets=secrets, open_kwargs=open_kwargs)
                for u in pdf["url"]
            ]
            yield pdf

    return df.mapInPandas(resolve, MANIFEST_SCHEMA)


# ---------------------------------------------------------------------------
# schema pass (reference ``DetermineSchema``, ``transforms.py:276-301``)
# ---------------------------------------------------------------------------


def read_schemas_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Per-file schemas: ``(index, schema)`` rows. Without ``preprocess``
    it reads file headers/zarr.json only — array payloads are never
    touched. With one, the schema must describe the PREPROCESSED
    fragments (reference order Open | Preprocessor | DetermineSchema,
    ``transforms.py:276-301``): each file opens eagerly — a preprocessor
    may touch array DATA (where, coarsen, ...), which the chunk-lazy views
    don't support — and only the KB-scale schema JSON leaves the task."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def schema_row(idx_json: str, url: str) -> Tuple[str, str]:
        if preprocess is None:
            schema = read_schema(url, ft, xarray_open_kwargs=xarray_open_kwargs)
            return idx_json, schema_to_json(schema)
        ds = open_with_ndset(url, file_type=ft, xarray_open_kwargs=xarray_open_kwargs)
        index, ds = preprocess(Index.from_json(idx_json), ds)
        return index.to_json(), schema_to_json(dataset_to_schema(ds))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [schema_row(i, u) for i, u in zip(pdf["index"], pdf["url"])]
            yield pd.DataFrame(rows, columns=["index", "schema"])

    return df.mapInPandas(scan, "index string, schema string")


def _combine_level_fn(dim: Dimension) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Combiner for one nesting level: fold a group's schemas along ``dim``,
    injecting the per-position sequence chunks for concat dims exactly as
    the reference's ``CombineXarraySchemas.add_input`` does
    (``combiners.py:36-51``)."""
    concat_name = dim.name if dim.operation == CombineOp.CONCAT else None

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: Optional[XarraySchema] = None
        outer_json = None
        for idx_json, schema_json in zip(pdf["index"], pdf["schema"]):
            index = Index.from_json(idx_json)
            schema = schema_from_json(schema_json)
            if concat_name is not None:
                assert concat_name not in schema["chunks"], (
                    "Concat dim should be unchunked for new input"
                )
                position = index[dim].value
                schema["chunks"][concat_name] = {
                    position: schema["dims"][concat_name]
                }
            acc = combine_xarray_schemas(acc, schema, concat_dim=concat_name)
            if outer_json is None:
                outer = Index({k: v for k, v in index.items() if k != dim})
                outer_json = outer.to_json()
        return pd.DataFrame({"index": [outer_json], "schema": [schema_to_json(acc)]})

    return combine


def _fold_level(pdf: pd.DataFrame, dim: Dimension) -> pd.DataFrame:
    """Fold ``(index, schema)`` rows along ``dim``: one
    :func:`_combine_level_fn` row per outer index (the index without
    ``dim``)."""
    fn = _combine_level_fn(dim)
    outer = [
        Index({k: v for k, v in Index.from_json(j).items() if k != dim}).to_json()
        for j in pdf["index"]
    ]
    return pd.concat([fn(g) for _, g in pdf.groupby(outer, sort=False)], ignore_index=True)


def determine_schema(
    schemas_df: DataFrame, combine_dims: List[Dimension]
) -> XarraySchema:
    """Multi-dimensional schema reduction → the single global schema
    (reference ``DetermineSchema``, ``transforms.py:276-301``) without a
    shuffle: one ``mapInPandas`` folds each partition's rows along the
    innermost dim per outer index, the driver collects these partials (at
    most partitions × outer indexes of KB-scale rows) and merges the ones
    that share an outer index with ``combine_xarray_schemas``, then folds
    the outer levels in-process. ``combine_dims`` is outermost first."""
    *outer_dims, inner = combine_dims
    concat_dim = inner.name if inner.operation == CombineOp.CONCAT else None

    def partial_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in batches if len(pdf)]
        if pdfs:
            yield _fold_level(pd.concat(pdfs, ignore_index=True), inner)

    partials = schemas_df.mapInPandas(partial_fold, "index string, schema string").collect()
    if not partials:
        raise ValueError("schema reduction produced 0 rows, expected 1")
    merged: Dict[str, XarraySchema] = {}
    for key, schema_json in partials:
        merged[key] = combine_xarray_schemas(
            merged.get(key), schema_from_json(schema_json), concat_dim=concat_dim
        )
    pdf = pd.DataFrame(
        {"index": list(merged), "schema": [schema_to_json(s) for s in merged.values()]}
    )
    for dim in reversed(outer_dims):
        pdf = _fold_level(pdf, dim)
    return schema_from_json(pdf["schema"].iloc[0])


# ---------------------------------------------------------------------------
# IndexItems (reference ``transforms.py:304-328``)
# ---------------------------------------------------------------------------


def _sequence_lens(schema: XarraySchema) -> Dict[str, List[int]]:
    out = {}
    for dim, posmap in schema["chunks"].items():
        out[dim] = [posmap[i] for i in range(len(posmap))]
    return out


def index_items(df: DataFrame, schema: XarraySchema, append_offset: int = 0) -> DataFrame:
    """Enrich concat-dim positions with element start offsets + global
    dimsize via prefix sums over the schema's sequence chunks (reference
    ``IndexItems`` + ``augment_index_with_start_stop``,
    ``transforms.py:304-328``, ``patterns.py:66-82``). The (tiny) prefix-sum
    table is captured in the closure — the broadcast side input of the
    reference."""
    seq_lens = _sequence_lens(schema)

    @F.udf("string", useArrow=False)
    def augment(index_json: str) -> str:
        index = Index.from_json(index_json)
        new = Index()
        for dimkey, dimval in index.items():
            if dimkey.operation == CombineOp.CONCAT:
                item_lens = seq_lens[dimkey.name]
                dimval = augment_index_with_start_stop(dimval, item_lens, append_offset)
            new[dimkey] = dimval
        return new.to_json()

    return df.withColumn("index", augment("index"))


# ---------------------------------------------------------------------------
# rechunk (reference ``Rechunk``, ``transforms.py:401-417``): every mode is
# pieces → transport → one write kernel. ``_pieces`` turns a manifest row
# into single-variable pieces keyed by target chunk ⊕ variable; payload,
# reference and spill differ only in how a piece reaches its group, and the
# aligned path writes each piece as a one-piece group. ``_write_group``
# combines and writes a group the same way for all four.
# ---------------------------------------------------------------------------


def _owns_variable(sub_idx: Index, var_dims) -> bool:
    """A fragment owns a variable iff it sits at the ORIGIN of every
    concat dim the variable does not span — along spanned dims each
    fragment owns its own disjoint region, along unspanned dims only
    the origin fragment ships the (identical) payload. Subsumes the
    reference's first-item rule for dimensionless coords."""
    for d, p in sub_idx.items():
        if (
            d.operation == CombineOp.CONCAT
            and d.name not in var_dims
            and p.value != 0
        ):
            return False
    return True


def _explode_by_variable(sub_idx: Index, sub_ds: NDDataset):
    """Yield (suffix, single-variable dataset) obeying write ownership:
    one unit = one chunk × one owned variable, so shuffle groups hold one
    variable's chunk, coordinate payloads travel only from their owner
    (reference ``writers.py:57-69,110-122`` applied at split time), and
    ``StoreResult`` counts each byte once in every mode."""
    for name, var in sub_ds.data_vars.items():
        if _owns_variable(sub_idx, var.dims):
            yield f"d:{name}", NDDataset({name: var}, {}, {}, dict(var.sizes))
    if _is_first_in_merge_dim(sub_idx):
        for name, var in sub_ds.coords.items():
            if _owns_variable(sub_idx, var.dims):
                yield f"c:{name}", NDDataset({}, {name: var}, {}, dict(var.sizes))


def _pieces(
    idx_json: str,
    url: str,
    file_type: Union[str, FileType],
    target_chunks: Optional[Dict[str, int]],
    schema: Optional[XarraySchema],
    xarray_open_kwargs: Optional[dict],
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]],
    load: bool = True,
) -> Iterator[Tuple[str, Index, NDDataset]]:
    """Open → [preprocess] → :func:`split_fragment` → explode one
    manifest row into ``(group_key, sub_index, single_var_dataset)``
    pieces; ``group_key`` is the target chunk's key ⊕ ``|d:<var>`` or
    ``|c:<coord>``. The split is a pure function of the index and the
    chunk grid, so re-running it yields the same keys (what the reference
    shuffle relies on)."""
    ds = open_with_ndset(
        url,
        file_type=FileType(file_type),
        load=load,
        xarray_open_kwargs=xarray_open_kwargs,
    )
    index = Index.from_json(idx_json)
    if preprocess is not None:
        index, ds = preprocess(index, ds)
    for gk, (sub_idx, sub_ds) in split_fragment(
        (index, ds), target_chunks=target_chunks, schema=schema
    ):
        gk_json = group_key_to_json(gk)
        for suffix, single in _explode_by_variable(sub_idx, sub_ds):
            yield f"{gk_json}|{suffix}", sub_idx, single


def _write_group(
    key: str, frags: List[Tuple[Index, NDDataset]], store_path: str
) -> dict:
    """The one write kernel: combine a group's pieces into its target
    chunk (a one-piece group passes through unchanged), write its aligned
    region, and return the group's status row."""
    index, ds = combine_fragments(None, frags)
    store_dataset_fragment((index, ds), store_path)
    return {
        "group_key": key,
        "index": index.to_json(),
        "n_vars": len(ds.data_vars),
        "nbytes": int(sum(v.data.nbytes for v in ds.variables.values())),
    }


def _frame_size(parts) -> int:
    return sum(memoryview(p).nbytes for p in parts)


#: a binary column's offsets are int32, so one split batch carries at most
#: this many payload bytes; a batch is flushed before it would pass them
_SPLIT_BATCH_BYTES = 2**31 - 1


def _frame_batches(
    pieces: Iterator[Tuple[str, Index, NDDataset]]
) -> Iterator["pa.RecordBatch"]:
    """Pack pieces into :data:`SPLIT_SCHEMA` record batches whose payload
    column is built over ONE buffer that each NDS1 frame part is written
    into directly — one Python-side copy per payload byte. Raises
    ``ValueError`` naming the group key when a single frame is over
    :data:`_SPLIT_BATCH_BYTES`."""
    import pyarrow as pa

    def batch(keys, idxs, data, offsets) -> "pa.RecordBatch":
        payload = pa.Array.from_buffers(
            pa.binary(),
            len(keys),
            [None, pa.py_buffer(np.asarray(offsets, dtype=np.int32)), pa.py_buffer(data)],
        )
        return pa.RecordBatch.from_arrays(
            [pa.array(keys, pa.string()), pa.array(idxs, pa.string()), payload],
            names=["group_key", "index", "payload"],
        )

    keys, idxs, data, offsets = [], [], bytearray(), [0]
    for key, sub_idx, single in pieces:
        parts = single.frame_parts()
        size = _frame_size(parts)
        if size > _SPLIT_BATCH_BYTES:
            raise ValueError(
                f"piece {key!r} frames to {size} bytes, over the "
                f"{_SPLIT_BATCH_BYTES}-byte limit of one Arrow binary batch"
            )
        if keys and len(data) + size > _SPLIT_BATCH_BYTES:
            yield batch(keys, idxs, data, offsets)
            keys, idxs, data, offsets = [], [], bytearray(), [0]
        keys.append(key)
        idxs.append(sub_idx.to_json())
        for part in parts:
            data += part
        offsets.append(len(data))
    yield batch(keys, idxs, data, offsets)


def open_split_fragments_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Payload split: open → [preprocess] → split in ONE ``mapInArrow``
    stage, emitting ``(group_key, index, payload)`` rows whose payload is
    the piece's NDS1 frame. The MB-scale bytes cross JVM↔Python once
    before the shuffle; each source file's pieces leave as one record
    batch (more only past :data:`_SPLIT_BATCH_BYTES`)."""

    def open_split(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            for idx_json, url in zip(
                batch.column("index").to_pylist(), batch.column("url").to_pylist()
            ):
                yield from _frame_batches(
                    _pieces(idx_json, url, file_type, target_chunks, schema,
                            xarray_open_kwargs, preprocess)
                )

    return df.mapInArrow(open_split, SPLIT_SCHEMA)


def rechunk_and_store(
    df_split: DataFrame,
    target_store_path: str,
) -> DataFrame:
    """Fused combine+write for the payload and spill shuffles: each
    ``groupBy(group_key)`` group assembles its target chunk and writes
    its aligned region in the same task (reference ``transforms.py:414``
    + ``StoreDatasetFragments``); only status rows return.

    The group crosses JVM→Python as Arrow data (``applyInArrow``). A
    row's NDS1 frame is its ``payload`` cell, read as a zero-copy
    ``np.frombuffer`` view over the Arrow buffer — or, for spill rows
    with ``url`` set, one range-get of ``(url, offset, length)``."""
    import pyarrow as pa

    has_url = "url" in df_split.columns
    status_schema = pa.schema(
        [("group_key", pa.string()), ("index", pa.string()),
         ("n_vars", pa.int32()), ("nbytes", pa.int64())]
    )

    def combine_write(tbl: "pa.Table") -> "pa.Table":
        frags = []
        for batch in tbl.to_batches():
            idx_col, payload_col = batch.column("index"), batch.column("payload")
            urls = batch.column("url").to_pylist() if has_url else [None] * batch.num_rows
            for i, url in enumerate(urls):
                if url:
                    off, length = batch.column("offset")[i].as_py(), batch.column("length")[i].as_py()
                    buf = url_range_get(url, off, length)
                else:
                    buf = payload_col[i].as_buffer()
                frags.append((Index.from_json(idx_col[i].as_py()), NDDataset.from_bytes(buf)))
        row = _write_group(tbl.column("group_key")[0].as_py(), frags, target_store_path)
        return pa.Table.from_pylist([row], schema=status_schema)

    return df_split.groupBy("group_key").applyInArrow(combine_write, STATUS_SCHEMA)


def open_split_refs_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Reference split: the SAME group keys as
    :func:`open_split_fragments_df`, but each row carries only
    ``(group_key, file_index, url)`` — ~200 bytes — instead of the MB-scale
    fragment payload. Sources are opened ``load=False`` so chunk-lazy
    formats (zarr, kerchunk) pay metadata cost only; eager formats read
    once without shipping. The write side (:func:`rechunk_refs_and_store`)
    re-opens each source and extracts its pieces directly, so the
    exchange moves O(#fragments) metadata instead of O(data) bytes — at
    100 TB that removes the double shuffle-disk write/read of the whole
    corpus and both Python↔JVM payload crossings, trading them for a
    second targeted read of each source file."""

    def split_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (key, idx_json, url)
                for idx_json, url in zip(pdf["index"], pdf["url"])
                # a user preprocessor may touch array DATA (where, coarsen,
                # ...), which lazy views don't support — open eagerly when
                # one is present; metadata-only otherwise
                for key, _, _ in _pieces(
                    idx_json, url, file_type, target_chunks, schema,
                    xarray_open_kwargs, preprocess, load=preprocess is not None,
                )
            ]
            yield pd.DataFrame(rows, columns=["group_key", "index", "url"])

    return df.mapInPandas(split_keys, REFS_SCHEMA)


# per-worker-process LRU of opened+preprocessed sources for the reference
# write path: groups land on workers in key-hash order, so consecutive
# tasks frequently revisit the same file. Two entries bound memory at two
# source files per worker; Spark Python workers are single-threaded.
_REFS_OPEN_CACHE: "OrderedDict[Tuple[str, str, str], Dict[str, tuple]]" = (
    OrderedDict()
)
_REFS_OPEN_CACHE_CAP = 2


def rechunk_refs_and_store(
    df_refs: DataFrame,
    target_store_path: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Combine+write for the reference shuffle: each group re-opens its
    source files (process-level LRU), re-runs the deterministic
    :func:`_pieces`, takes only its own pieces, then combines and writes
    them with the same kernel as every other mode. Determinism of the
    split (pure function of index ⊕ chunk grid) is what makes shuffling
    references instead of payloads sound."""
    # distinct token per pipeline run: reused Python workers keep the
    # module-level cache alive across jobs, and (url, idx_json) alone
    # would serve a STALE dataset to a later run with a different
    # preprocessor/reader config or regenerated source files
    run_token = os.urandom(8).hex()

    def open_pieces(url: str, idx_json: str) -> Dict[str, tuple]:
        """Pieces of one source file, cached as ``{group_key: (sub_index,
        single_var_dataset)}`` — each group takes its piece by exact key
        lookup, so there is no group-key re-parsing (variable names may
        contain '|') and the per-file split work is O(pieces), not
        O(groups × pieces)."""
        key = (run_token, url, idx_json)
        hit = _REFS_OPEN_CACHE.get(key)
        if hit is not None:
            _REFS_OPEN_CACHE.move_to_end(key)
            return hit
        # load=False: chunk-lazy formats (zarr, kerchunk) open metadata
        # only and each group's combine materializes a chunk-granular
        # range read of EXACTLY its piece — the whole point of the
        # reference shuffle at 100 TB. Eager formats (npz, netcdf3, ...)
        # ignore the flag and read once per file as before. A user
        # preprocessor may touch array DATA, which lazy views don't
        # support — open eagerly when one is present.
        pieces = {
            gk: (sub_idx, single)
            for gk, sub_idx, single in _pieces(
                idx_json, url, file_type, target_chunks, schema,
                xarray_open_kwargs, preprocess, load=preprocess is not None,
            )
        }
        _REFS_OPEN_CACHE[key] = pieces
        while len(_REFS_OPEN_CACHE) > _REFS_OPEN_CACHE_CAP:
            _REFS_OPEN_CACHE.popitem(last=False)
        return pieces

    def combine_write(gk_full: str, rows: List[Tuple[str, str]]) -> dict:
        # the split is deterministic, so every shuffled reference MUST
        # resolve to a piece — a KeyError here means source files changed
        # between the split and write stages
        frags = [open_pieces(url, idx_json)[gk_full] for idx_json, url in rows]
        return _write_group(gk_full, frags, target_store_path)

    # range-partition + in-partition sort instead of a hash groupBy: all
    # suffixes of one chunk — and lexicographically adjacent chunks, which
    # are the ones straddling the same source files — run CONSECUTIVELY on
    # the same worker, so the per-process open cache turns the "one open
    # per group" cost into ~one open per file per partition. Groups stay
    # whole because repartitionByRange keys each group to one partition.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: Optional[str] = None
        cur_rows: List[Tuple[str, str]] = []
        done: List[dict] = []
        for pdf in batches:
            for gk, idx_json, url in zip(
                pdf["group_key"], pdf["index"], pdf["url"]
            ):
                if gk != cur_key:
                    if cur_key is not None:
                        done.append(combine_write(cur_key, cur_rows))
                    cur_key, cur_rows = gk, []
                cur_rows.append((idx_json, url))
        if cur_key is not None:
            done.append(combine_write(cur_key, cur_rows))
        if done:
            yield pd.DataFrame(done)

    nparts = int(
        df_refs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    part = df_refs.repartitionByRange(nparts, "group_key").sortWithinPartitions(
        "group_key"
    )
    return part.mapInPandas(run, STATUS_SCHEMA)


# ---------------------------------------------------------------------------
# spill shuffle — eager formats made chunk-lazy for the price of one
# scratch write (r9 verdict #5: in payload mode the corpus crosses
# Python→JVM, the shuffle, and JVM→Python, and that transport is the
# tax). Spill mode decodes each source ONCE, writes each spilled piece's
# NDS1 frame to a scratch object next to the target, shuffles
# O(#fragments) metadata rows, and the payload-mode combine range-reads
# exactly its pieces — the reference-mode exchange pattern, available to
# formats that cannot byte-range-serve their own chunks.
# ---------------------------------------------------------------------------

SPILL_SCHEMA = (
    "group_key string, index string, payload binary, "
    "url string, offset bigint, length bigint"
)

#: pieces whose frame is at most this many bytes ride the shuffle inline
#: (coords, tiny edge chunks) — a scratch round-trip per 100-byte
#: coordinate would be pure request overhead
SPILL_INLINE_BYTES = 1 << 20


def open_split_spill_df(
    df: DataFrame,
    scratch_root: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Open → [preprocess] → split → SPILL: each source file decodes
    exactly once; every piece's NDS1 frame appends to ONE scratch object
    per source (keyed by the source's index, so task retries rewrite the
    same object — idempotent), and the emitted rows carry only
    ``(group_key, index, scratch_url, offset, length)``. Frames of at most
    :data:`SPILL_INLINE_BYTES` ship inline in ``payload`` instead.
    :func:`rechunk_and_store` combines either kind of row."""

    def split_spill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                scratch_url = (
                    scratch_root.rstrip("/")
                    + "/spill-"
                    + hashlib.md5(idx_json.encode()).hexdigest()
                    + ".raw"
                )
                rows, spilled, pos = [], [], 0
                for key, sub_idx, single in _pieces(
                    idx_json, url, file_type, target_chunks, schema,
                    xarray_open_kwargs, preprocess,
                ):
                    parts = single.frame_parts()
                    size = _frame_size(parts)
                    if size <= SPILL_INLINE_BYTES:
                        rows.append((key, sub_idx.to_json(), b"".join(parts), "", -1, -1))
                    else:
                        spilled.append(parts)
                        rows.append((key, sub_idx.to_json(), b"", scratch_url, pos, size))
                        pos += size
                if spilled:
                    with open_output_stream(scratch_url) as f:
                        for parts in spilled:
                            for part in parts:
                                f.write(part)
                yield pd.DataFrame(
                    rows,
                    columns=["group_key", "index", "payload", "url", "offset", "length"],
                )

    return df.mapInPandas(split_spill, SPILL_SCHEMA)


def open_split_store_df(
    df: DataFrame,
    store_path: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    xarray_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Zero-shuffle fast path: open → [preprocess] → split → write, all in
    one map stage. Valid only when every piece is a complete target chunk
    (``_chunks_aligned_with_files``) — then the groupBy would place
    exactly one piece per group and the shuffle would move every byte
    across the cluster for nothing. Each piece goes through the same
    write kernel as a one-piece group."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                rows = [
                    _write_group(key, [(sub_idx, single)], store_path)
                    for key, sub_idx, single in _pieces(
                        idx_json, url, file_type, target_chunks, schema,
                        xarray_open_kwargs, preprocess,
                    )
                ]
                yield pd.DataFrame(rows, columns=["group_key", "index", "n_vars", "nbytes"])

    return df.mapInPandas(run, STATUS_SCHEMA)


def _cleanup_scratch(scratch_root: str) -> None:
    """Remove the spill scratch prefix (local dir or object-store
    prefix) — called by the driver once statuses are collected."""
    from .storage import is_object_url

    if is_object_url(scratch_root):
        from .zarrio import _store_for

        _store_for(scratch_root).rm_prefix("")
        return
    import shutil

    shutil.rmtree(scratch_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# StoreToZarr — the master composite (reference ``transforms.py:638-725``)
# ---------------------------------------------------------------------------


@dataclass
class StoreResult:
    """What a pipeline run returns: the store location + the global schema +
    write statistics (the reference returns a singleton store handle via
    ``Sample.FixedSizeGlobally(1)``, ``transforms.py:719-723``)."""

    path: str
    schema: XarraySchema
    n_chunks_written: int
    bytes_written: int
    shuffled: bool = True

    def open(self) -> NDDataset:
        return open_zarr_group(self.path)


def _chunks_aligned_with_files(
    schema: XarraySchema, target_chunks: Dict[str, int], append_offset: int = 0
) -> bool:
    """True when NO target chunk draws data from more than one source file:
    every interior file boundary along every concat dim falls on a target
    chunk boundary. In that case each split sub-fragment already IS a
    complete target chunk and the rechunk shuffle moves bytes for nothing —
    the reference always shuffles (``transforms.py:406-417``); skipping it
    here is the cheap win flagged in SURVEY §4. Appends with a non-aligned
    offset shift every boundary, so they disqualify."""
    effective = determine_target_chunks(schema, target_chunks)
    for dim, posmap in schema["chunks"].items():
        chunk = effective.get(dim)
        if not chunk:
            continue
        if append_offset % chunk != 0:
            return False
        lens = [posmap[i] for i in range(len(posmap))]
        boundary = append_offset
        for n in lens[:-1]:
            boundary += n
            if boundary % chunk != 0:
                return False
    return True


# formats whose load=False open costs metadata only AND whose reads can
# target exact byte ranges — for these the reference-mode second read
# touches O(needed) bytes, so shipping references beats shipping payloads
_CHUNK_LAZY_TYPES = frozenset({FileType.npz, FileType.zarr, FileType.kerchunk})


def _auto_rechunk_shuffle(file_type: FileType, preprocess) -> str:
    """Default shuffle mode when the caller does not pick one: reference
    for chunk-lazy formats without a preprocessor (write tasks
    range-read their pieces straight from the sources), payload
    otherwise. ``"spill"`` is deliberately NOT the eager-format default:
    on local[32]+tmpfs matched alternating A/B reads payload and spill
    within noise of each other (0.7–1.4× across three runs — the extra
    scratch write+read of the corpus roughly cancels the saved
    JVM↔Python transport), so the local default keeps the simpler
    plan. Opt into spill where its structure wins: real clusters whose
    shuffle storage cannot absorb a full corpus write+read, or
    object-store targets where scratch rides the same unbounded
    storage as the output."""
    if preprocess is None and file_type in _CHUNK_LAZY_TYPES:
        return "reference"
    return "payload"


def store_to_zarr(
    spark: SparkSession,
    pattern: FilePattern,
    target_root: Union[str, FSSpecTarget],
    store_name: str,
    target_chunks: Optional[Dict[str, int]] = None,
    attrs: Optional[Dict[str, str]] = None,
    append_dim: Optional[str] = None,
    dynamic_chunking_fn: Optional[Callable[[XarraySchema], Dict[str, int]]] = None,
    cache: Optional[Union[str, CacheFSSpecTarget]] = None,
    secrets: Optional[dict] = None,
    open_kwargs: Optional[dict] = None,
    xarray_open_kwargs: Optional[dict] = None,
    max_concurrency: Optional[int] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    consolidate_coords: bool = True,
    consolidated_metadata: bool = True,
    compressor: Optional[str] = None,
    prune: Optional[int] = None,
    target_shards: Optional[Dict[str, int]] = None,
    zarr_format: int = 3,
    rechunk_shuffle: Optional[str] = None,
) -> StoreResult:
    """End-to-end Zarr pipeline (reference ``StoreToZarr``,
    ``transforms.py:638-725``):

    manifest → [cache] → schema pre-pass (metadata only, no shuffle) →
    driver Zarr template init → IndexItems → open (+user preprocessor) →
    split → shuffle-combine-write (fused) → post-passes.

    ``target_shards`` (elements per stored object along the named dims,
    multiples of ``target_chunks``) writes data variables in the zarr v3
    ``sharding_indexed`` layout AND raises the pipeline's write
    granularity to whole shards: fragments are split and shuffled on the
    shard grid, so each task writes complete shard objects — region
    writes stay disjoint per task (the same no-read-modify-write
    invariant as chunk-grain writes, now at prod(shards/chunks) fewer
    object-store requests).

    ``rechunk_shuffle`` picks what THE shuffle moves when source and
    target chunking misalign: ``"payload"`` ships fragment
    bytes through the exchange (one source read; data crosses
    shuffle disk + Python↔JVM twice); ``"reference"`` ships only
    ``(group_key, file_index, url)`` rows and the write tasks re-open
    their source files directly (exchange volume drops from O(data) to
    O(#fragments); sources are read a second time, but only the needed
    pieces for chunk-lazy formats). ``"spill"`` decodes each source
    once, writes every spilled piece's NDS1 frame to a scratch object
    next to the target, ships metadata rows, and write tasks
    range-read exactly their frames (one extra transient write+read of
    the corpus on target-adjacent storage; scratch removed when the
    run completes). At 100 TB payload mode is the one that does NOT
    scale: it writes+reads the entire corpus through shuffle storage
    AND crosses it Python↔JVM twice (measured: the transport is the
    whole 2-3× tax; python-side pickling is <10% of it), while
    reference/spill keep the exchange in the megabytes regardless of
    data size. The default (``None``) auto-picks: ``"reference"`` for
    chunk-lazy source formats with no user preprocessor (the second
    read touches only the needed byte ranges), ``"payload"`` otherwise
    — on local[32] matched A/B the scratch round-trip cancels spill's
    transport saving, so spill stays OPT-IN for deployments where
    shuffle-storage volume is the binding constraint (a 100 TB corpus
    through the shuffle service vs one transient object-store copy).
    """
    if target_chunks and dynamic_chunking_fn:
        raise ValueError("Passing both `target_chunks` and `dynamic_chunking_fn` not allowed.")
    if rechunk_shuffle is None:
        rechunk_shuffle = _auto_rechunk_shuffle(pattern.file_type, preprocess)
    if rechunk_shuffle not in ("payload", "reference", "spill"):
        raise ValueError(
            f"rechunk_shuffle must be 'payload', 'reference', or 'spill', "
            f"got {rechunk_shuffle!r}"
        )
    if target_shards:
        for d, s in target_shards.items():
            c = (target_chunks or {}).get(d)
            if c and s % c:
                raise ValueError(
                    f"target_shards[{d!r}]={s} must be a multiple of "
                    f"target_chunks[{d!r}]={c}"
                )
    target = (
        FSSpecTarget.from_url(target_root) if isinstance(target_root, str) else target_root
    )
    store_path = (target / store_name).root_path
    file_type = pattern.file_type

    # fragment rows carry MB-scale binary payloads — keep Arrow batches
    # small for this pipeline so task memory stays bounded. Run on a cloned
    # session (shared SparkContext + table cache, separate SQLConf) so the
    # lowered batch size never leaks to the caller's session — not on an
    # exception mid-pipeline, and not to queries running concurrently under
    # the FAIR scheduler. Builder-time configs are inherited; conf values
    # the caller set at runtime after session creation are not.
    sess = spark.newSession()
    sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")

    manifest = manifest_df(sess, pattern)
    if prune:
        manifest = prune_manifest(manifest, pattern, nkeep=prune)
    if cache is not None or secrets or max_concurrency:
        manifest = open_urls_with_fsspec(
            manifest, cache=cache, secrets=secrets,
            open_kwargs=open_kwargs, max_concurrency=max_concurrency,
        )

    # pass 1: global schema. Header-only when no preprocessor; with one,
    # the schema must describe the PREPROCESSED fragments (reference order:
    # Open | Preprocessor | StoreToZarr→DetermineSchema) — schema-only
    # output, so fragment payloads never cross Arrow twice
    schemas = read_schemas_df(
        manifest, file_type, xarray_open_kwargs=xarray_open_kwargs,
        preprocess=preprocess,
    )
    schema = determine_schema(schemas, pattern.combine_dim_keys)

    if dynamic_chunking_fn:
        target_chunks = dynamic_chunking_fn(schema)
    target_chunks = target_chunks or {}
    # with sharding, the pipeline's split/shuffle/write granularity is the
    # shard grid (tasks own whole shards; inner chunking is intra-object
    # layout applied at encode time)
    write_chunks = (
        {**target_chunks, **target_shards} if target_shards else target_chunks
    )

    # append support: introspect existing store *at run time* (reference
    # does it at plan-construction, transforms.py:679-693; explicitly
    # NOT idempotent)
    append_offset = 0
    if append_dim:
        existing = zarr_group_schema(store_path)
        append_offset = existing["dims"][append_dim]

    # driver-side, metadata-only target init
    schema_to_zarr(
        schema,
        store_path,
        target_chunks=target_chunks,
        attrs=attrs,
        append_dim=append_dim,
        compressor=compressor,
        target_shards=target_shards,
        zarr_format=zarr_format,
    )

    # pass 2: data — open/preprocess/split fused into one Arrow stage so
    # fragment bytes cross JVM↔Python once before the shuffle; when chunks
    # align with file boundaries the shuffle is skipped entirely
    indexed = index_items(manifest, schema, append_offset=append_offset)
    shuffled = not _chunks_aligned_with_files(schema, write_chunks, append_offset)
    if shuffled and rechunk_shuffle == "reference":
        refs = open_split_refs_df(
            indexed,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_refs_and_store(
            refs,
            store_path,
            file_type=file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
    elif shuffled and rechunk_shuffle == "spill":
        scratch_root = store_path.rstrip("/") + ".spill"
        spill = open_split_spill_df(
            indexed,
            scratch_root,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_and_store(spill, store_path)
    elif shuffled:
        split = open_split_fragments_df(
            indexed,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_and_store(split, store_path)
    else:
        statuses = open_split_store_df(
            indexed,
            store_path,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
    try:
        agg = statuses.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("nbytes"), F.lit(0)).alias("b"),
        ).collect()[0]
    finally:
        # scratch must go even when the job FAILS — on an object-store
        # target a leaked .spill/ prefix is a transient copy of the
        # corpus sitting on paid storage
        if shuffled and rechunk_shuffle == "spill":
            _cleanup_scratch(store_path.rstrip("/") + ".spill")

    if consolidate_coords:
        _consolidate_coords(store_path)
    if consolidated_metadata:
        _consolidate_metadata(store_path)

    return StoreResult(
        path=store_path,
        schema=schema,
        n_chunks_written=int(agg["n"]),
        bytes_written=int(agg["b"]),
        shuffled=shuffled,
    )


# ---------------------------------------------------------------------------
# kerchunk branch (reference ``transforms.py:428-635``)
# ---------------------------------------------------------------------------


def open_with_kerchunk_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    concat_dims: Optional[List[str]] = None,
    inline_threshold: int = 300,
    kerchunk_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Scan each file into reference dicts →
    ``(index, pos0..pos{n-1}, refs)`` rows (reference
    ``OpenWithKerchunk``, ``transforms.py:178-213``). ``pos{k}`` is the
    file's ordinal along ``concat_dims[k]`` (outermost first); a 1-D
    pattern emits just ``pos0``."""
    import json as _json

    ft = FileType(file_type) if isinstance(file_type, str) else file_type
    dims = list(concat_dims or [])
    n = max(1, len(dims))
    pos_cols = [f"pos{k}" for k in range(n)]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: Dict[str, list] = {c: [] for c in ["index", *pos_cols, "refs"]}
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                index = Index.from_json(idx_json)
                poss = []
                for k in range(n):
                    p = 0
                    if k < len(dims):
                        d = index.find_concat_dim(dims[k])
                        if d:
                            p = index[d].value
                    poss.append(p)
                for ref in open_with_kerchunk(
                    url, file_type=ft, inline_threshold=inline_threshold,
                    kerchunk_open_kwargs=kerchunk_open_kwargs,
                ):
                    out["index"].append(idx_json)
                    for c, p in zip(pos_cols, poss):
                        out[c].append(p)
                    out["refs"].append(_json.dumps(ref))
            yield pd.DataFrame(out)

    schema = "index string, " + ", ".join(f"{c} long" for c in pos_cols) + ", refs string"
    return df.mapInPandas(scan, schema)


def combine_references_df(
    refs_df: DataFrame,
    concat_dims: List[str],
    max_refs_per_merge: int = 5,
    preprocess: Optional[Callable[[dict], dict]] = None,
) -> dict:
    """Order-preserving reduction of per-file references (reference
    ``CombineReferences``, ``transforms.py:428-554``) for any number of
    concat dims, without a shuffle. ``concat_dims[0]`` is the OUTERMOST
    axis, read from column ``pos0`` (the reference's HRRR step×time
    family, ``examples/feedstock/hrrr_kerchunk_concat_step.py``, is 2-D).

    One ``mapInPandas`` streams each partition's rows into partials: a
    partial combines, along the innermost dim, a run of CONSECUTIVE
    innermost positions that share the outer positions and one
    ``floor(pos / max_refs_per_merge)`` bucket (the reference's
    ``bucket_by_position``); any gap closes the run, so the result does
    not depend on partitioning or row order, and a task holds at most
    ``max_refs_per_merge`` leaves. ``preprocess`` (reference
    ``mzz_kwargs['preprocess']``, ``transforms.py:438-447``) rewrites each
    leaf refs mapping exactly once, executor-side, and must be picklable.

    The driver sorts the partials by position and merges them one level
    at a time, outermost level last; it holds the combined refs anyway.
    Each slice must tile its level's extent identically (virtual concat
    cannot rechunk; ``combine_references`` checks it). Raises
    ``ValueError`` when there is nothing to combine."""
    import json as _json

    from .kerchunkio import combine_references

    pos_cols = [f"pos{k}" for k in range(len(concat_dims))]
    inner = concat_dims[-1]

    def runs(batches: Iterator[pd.DataFrame]) -> Iterator[Tuple[tuple, List[dict]]]:
        key = start = last = None
        leaves: List[dict] = []
        for pdf in batches:
            for *pos, refs in zip(*(pdf[c] for c in pos_cols), pdf["refs"]):
                pos = tuple(int(p) for p in pos)
                run_key = (pos[:-1], pos[-1] // max_refs_per_merge)
                if leaves and (run_key != key or pos[-1] != last + 1):
                    yield start, leaves
                    leaves = []
                if not leaves:
                    key, start = run_key, pos
                last = pos[-1]
                leaves.append(_json.loads(refs))
        if leaves:
            yield start, leaves

    def partial_merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = [
            (*start, _json.dumps(combine_references(leaves, [inner], preprocess=preprocess)))
            for start, leaves in runs(batches)
        ]
        if rows:
            yield pd.DataFrame(rows, columns=[*pos_cols, "refs"])

    out_schema = "".join(f"{c} long, " for c in pos_cols) + "refs string"
    partials = refs_df.mapInPandas(partial_merge, out_schema).collect()
    if not partials:
        raise ValueError("no references to combine")
    level = sorted(
        ((tuple(r[c] for c in pos_cols), _json.loads(r["refs"])) for r in partials),
        key=lambda t: t[0],
    )
    for k in reversed(range(len(concat_dims))):
        slices: Dict[tuple, List[dict]] = {}
        for pos, refs in level:
            slices.setdefault(pos[:k], []).append(refs)
        level = [
            (outer, combine_references(refs, [concat_dims[k]]))
            for outer, refs in slices.items()
        ]
    return level[0][1]


def write_combined_reference(
    spark: SparkSession,
    pattern: FilePattern,
    target_root: Union[str, FSSpecTarget],
    store_name: str,
    concat_dims: Optional[List[str]] = None,
    output_file_name: str = "reference.json",
    max_refs_per_merge: int = 5,
    inline_threshold: int = 300,
    preprocess: Optional[Callable[[dict], dict]] = None,
    kerchunk_open_kwargs: Optional[dict] = None,
) -> str:
    """Kerchunk composite (reference ``WriteCombinedReference``,
    ``transforms.py:589-635``): scan → ordered reduce → write json/parquet.
    ``preprocess`` rewrites each per-file refs mapping before the merge
    (reference ``mzz_kwargs['preprocess']``). Returns the reference
    artifact path (readable via ``kerchunkio.open_reference_dataset``)."""
    from .kerchunkio import write_reference_json, write_reference_parquet

    target = (
        FSSpecTarget.from_url(target_root) if isinstance(target_root, str) else target_root
    )
    concat_dims = concat_dims or pattern.concat_dims
    if not concat_dims:
        raise ValueError("kerchunk combine needs at least one concat dim")

    manifest = manifest_df(spark, pattern)
    refs_df = open_with_kerchunk_df(
        manifest, pattern.file_type, concat_dims=concat_dims,
        inline_threshold=inline_threshold,
        kerchunk_open_kwargs=kerchunk_open_kwargs,
    )
    combined = combine_references_df(
        refs_df, concat_dims, max_refs_per_merge, preprocess=preprocess
    )

    outpath = os.path.join(target.root_path, store_name, output_file_name)
    ext = os.path.splitext(output_file_name)[-1]
    if ext == ".json":
        return write_reference_json(combined, outpath)
    if ext == ".parquet":
        return write_reference_parquet(combined, outpath)
    raise NotImplementedError(f"file_ext={ext!r} not supported.")
