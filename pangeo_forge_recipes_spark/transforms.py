"""The Spark pipeline: manifest → open → schema → rechunk → Zarr/kerchunk.

This module is the engine's rendition of reference ``pangeo_forge_recipes/
transforms.py`` (the Beam PTransform library), re-expressed Spark-first:

* the file matrix is a **DataFrame manifest** ``(index, url)`` — built
  distributed for huge patterns (``spark.range`` + unravel);
* every per-file step is a **batch-iterator function** over Arrow record
  batches, and consecutive steps are **fused in Python** into one
  ``mapInArrow`` (``parallel.map_batches``, which the media operators
  share). Catalyst fuses JVM operators but gives each Python node of a
  task its own worker process; Beam's runner fuses ``ParDo`` chains. So
  a stage runs its Python steps — e.g. unravel → prune → schema scan →
  partial fold, or index → open → split — in one worker per task;
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
* the rechunk is the engine's **single data shuffle** (reference flags
  the same GroupByKey as the one perf hazard, ``transforms.py:414``):
  pieces (open → split → explode by variable) → transport → one
  exchange placed by target chunk and sorted by group key → one
  combine-write loop. Spill and reference differ only in how a row
  becomes its fragment;
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
import pyarrow as pa
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
from .parallel import arrow_batch, map_batches
from .patterns import FilePattern, FileType
from .rechunking import combine_fragments, group_key_to_json, split_fragment
from .session import local_df
from .storage import CacheFSSpecTarget, FSSpecTarget, open_output_stream, url_range_get
from .types import CombineOp, Dimension, Index, augment_index_with_start_stop
from .zarrio import consolidate_metadata as _consolidate_metadata, open_group

MANIFEST_SCHEMA = "index string, url string"
SPLIT_SCHEMA = (
    "group_key string, index string, payload binary, "
    "url string, offset bigint, length bigint"
)
REFS_SCHEMA = "group_key string, index string, url string"
STATUS_SCHEMA = "group_key string, index string, n_vars int, nbytes bigint"
SCHEMAS_SCHEMA = "index string, schema string"

# threshold above which the manifest is generated distributed rather than
# enumerated on the driver
_DRIVER_MANIFEST_MAX = 100_000


# ---------------------------------------------------------------------------
# Python steps: every per-row step below is a batch-iterator function
# (Arrow record batches in, Arrow record batches out) run through
# ``parallel.map_batches``, which composes consecutive steps into one
# Python node
# ---------------------------------------------------------------------------


def _rows(batch: pa.RecordBatch, *names: str) -> Iterator[tuple]:
    """The values of ``batch``'s ``names`` columns, row by row."""
    return zip(*(batch.column(name).to_pylist() for name in names))


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

    def unravel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pat: FilePattern = cloudpickle.loads(bc.value)
        for batch in batches:
            idxs = [pat.index_for_flat_position(i) for i in batch.column("id").to_pylist()]
            yield arrow_batch(MANIFEST_SCHEMA, [[i.to_json() for i in idxs], [pat[i] for i in idxs]])

    return map_batches(spark.range(n), unravel, MANIFEST_SCHEMA)


def prune_manifest(df: DataFrame, pattern: FilePattern, nkeep: int = 2) -> DataFrame:
    """Keep the first ``nkeep`` positions of each concat dim — the
    DataFrame-side equivalent of ``FilePattern.prune`` (reference
    ``patterns.py:235-260``), as a filtering step on the manifest that
    fuses with the steps around it."""
    concat_dims = set(pattern.concat_dims)

    def keep(index_json: str) -> bool:
        return all(
            pos.value < nkeep
            for dim, pos in Index.from_json(index_json).items()
            if dim.name in concat_dims
        )

    def prune(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            kept = [row for row in _rows(batch, "index", "url") if keep(row[0])]
            yield arrow_batch(MANIFEST_SCHEMA, zip(*kept))

    return map_batches(df, prune, MANIFEST_SCHEMA)


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
    balance than the reference's random-key grouping. The resolve step
    runs after that repartition and fuses with the steps that follow."""
    if isinstance(cache, str):
        cache = CacheFSSpecTarget.from_url(cache)
    if max_concurrency:
        df = df.repartition(max_concurrency)

    def resolve(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            urls = [
                open_url(u, cache=cache, secrets=secrets, open_kwargs=open_kwargs)
                for u in batch.column("url").to_pylist()
            ]
            yield arrow_batch(MANIFEST_SCHEMA, [batch.column("index").to_pylist(), urls])

    return map_batches(df, resolve, MANIFEST_SCHEMA)


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
    don't support — and only the KB-scale schema JSON leaves the task.
    :func:`determine_schema`'s partial fold runs in the same Python
    step."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def schema_row(idx_json: str, url: str) -> Tuple[str, str]:
        if preprocess is None:
            schema = read_schema(url, ft, xarray_open_kwargs=xarray_open_kwargs)
            return idx_json, schema_to_json(schema)
        ds = open_with_ndset(url, file_type=ft, xarray_open_kwargs=xarray_open_kwargs)
        index, ds = preprocess(Index.from_json(idx_json), ds)
        return index.to_json(), schema_to_json(dataset_to_schema(ds))

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [schema_row(i, u) for i, u in _rows(batch, "index", "url")]
            yield arrow_batch(SCHEMAS_SCHEMA, zip(*rows))

    return map_batches(df, scan, SCHEMAS_SCHEMA)


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
    shuffle: a partial fold, fused into the step that produced
    ``schemas_df``, folds each partition's rows along the
    innermost dim per outer index, the driver collects these partials (at
    most partitions × outer indexes of KB-scale rows) and merges the ones
    that share an outer index with ``combine_xarray_schemas``, then folds
    the outer levels in-process. ``combine_dims`` is outermost first."""
    *outer_dims, inner = combine_dims
    concat_dim = inner.name if inner.operation == CombineOp.CONCAT else None

    def partial_fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = {"index": [], "schema": []}
        for batch in batches:
            for c, col in rows.items():
                col += batch.column(c).to_pylist()
        if rows["index"]:
            pdf = _fold_level(pd.DataFrame(rows), inner)
            yield arrow_batch(SCHEMAS_SCHEMA, [pdf["index"].tolist(), pdf["schema"].tolist()])

    partials = map_batches(schemas_df, partial_fold, SCHEMAS_SCHEMA).collect()
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
    reference. A batch step: it fuses with the split that follows it."""
    seq_lens = _sequence_lens(schema)

    def augment(index_json: str) -> str:
        index = Index.from_json(index_json)
        new = Index()
        for dimkey, dimval in index.items():
            if dimkey.operation == CombineOp.CONCAT:
                item_lens = seq_lens[dimkey.name]
                dimval = augment_index_with_start_stop(dimval, item_lens, append_offset)
            new[dimkey] = dimval
        return new.to_json()

    def index(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idxs = [augment(j) for j in batch.column("index").to_pylist()]
            yield arrow_batch(MANIFEST_SCHEMA, [idxs, batch.column("url").to_pylist()])

    return map_batches(df, index, MANIFEST_SCHEMA)


# ---------------------------------------------------------------------------
# rechunk (reference ``Rechunk``, ``transforms.py:401-417``): every mode is
# pieces → transport → one write kernel. ``_pieces`` turns a manifest row
# into single-variable pieces keyed by target chunk ⊕ variable; reference
# and spill reach their groups through one exchange (``_combine_write``),
# and the aligned path writes each piece as a one-piece group.
# ``_write_group`` combines and writes a group the same way for all three.
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
        url, file_type=FileType(file_type), load=load, xarray_open_kwargs=xarray_open_kwargs
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


#: pieces whose frame is at most this many bytes ride the shuffle inline
#: (coords, tiny edge chunks) — a scratch round-trip per 100-byte
#: coordinate would be pure request overhead
SPILL_INLINE_BYTES = 1 << 20

#: a binary column's offsets are int32, so one split batch carries at most
#: this many inline payload bytes; a batch is flushed before it would pass
#: them (spilled frames travel as ``(url, offset, length)`` and do not count)
_SPLIT_BATCH_BYTES = 2**31 - 1


def _frame_batches(
    pieces: Iterator[Tuple[str, Index, NDDataset]],
    scratch_url: Optional[str],
    inline_bytes: int,
) -> Iterator[pa.RecordBatch]:
    """Pack pieces into :data:`SPLIT_SCHEMA` record batches. A frame of at
    most ``inline_bytes`` (every frame when ``scratch_url`` is None) is
    written straight into the batch's ONE payload buffer — one
    Python-side copy per byte; a larger frame is appended to the
    ``scratch_url`` object and its row carries ``(url, offset, length)``.
    Raises ``ValueError`` naming the group key when a single inline frame
    is over :data:`_SPLIT_BATCH_BYTES`."""

    def batch(keys, idxs, data, offsets, spans) -> pa.RecordBatch:
        payload = pa.Array.from_buffers(
            pa.binary(),
            len(keys),
            [None, pa.py_buffer(np.asarray(offsets, dtype=np.int32)), pa.py_buffer(data)],
        )
        urls, offs, lens = zip(*spans) if spans else ((), (), ())
        return pa.RecordBatch.from_arrays(
            [pa.array(keys, pa.string()), pa.array(idxs, pa.string()), payload,
             pa.array(urls, pa.string()), pa.array(offs, pa.int64()),
             pa.array(lens, pa.int64())],
            names=["group_key", "index", "payload", "url", "offset", "length"],
        )

    keys, idxs, data, offsets, spans = [], [], bytearray(), [0], []
    spilled, pos = [], 0
    for key, sub_idx, single in pieces:
        parts = single.frame_parts()
        size = _frame_size(parts)
        if scratch_url and size > inline_bytes:
            spilled.append(parts)
            span = (scratch_url, pos, size)
            pos += size
        else:
            if size > _SPLIT_BATCH_BYTES:
                raise ValueError(
                    f"piece {key!r} frames to {size} bytes, over the "
                    f"{_SPLIT_BATCH_BYTES}-byte limit of one Arrow binary batch"
                )
            if keys and len(data) + size > _SPLIT_BATCH_BYTES:
                yield batch(keys, idxs, data, offsets, spans)
                keys, idxs, data, offsets, spans = [], [], bytearray(), [0], []
            for part in parts:
                data += part
            span = ("", -1, -1)
        keys.append(key)
        idxs.append(sub_idx.to_json())
        offsets.append(len(data))
        spans.append(span)
    if spilled:
        with open_output_stream(scratch_url) as f:
            for parts in spilled:
                for part in parts:
                    f.write(part)
    yield batch(keys, idxs, data, offsets, spans)


def open_split_fragments_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    scratch_root: Optional[str] = None,
) -> DataFrame:
    """The eager split: open → [preprocess] → split in ONE Python step
    (fused with :func:`index_items` before it), decoding each source
    once and emitting :data:`SPLIT_SCHEMA` rows. A piece's NDS1 frame
    rides inline in ``payload`` when it is at most
    :data:`SPILL_INLINE_BYTES`; a larger one is appended to ONE scratch
    object per source under ``scratch_root`` (keyed by the source's
    index, so a retried task rewrites the same object) and its row
    carries ``(url, offset, length)``. With ``scratch_root`` None every
    frame goes inline. Each source's pieces leave as one record batch
    (more only past :data:`_SPLIT_BATCH_BYTES` of inline bytes);
    :func:`rechunk_and_store` combines either kind of row."""

    # read here, on the driver, so the step ships the driver's value
    inline_bytes = SPILL_INLINE_BYTES

    def open_split(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for idx_json, url in _rows(batch, "index", "url"):
                scratch_url = (
                    f"{scratch_root.rstrip('/')}/spill-"
                    f"{hashlib.md5(idx_json.encode()).hexdigest()}.raw"
                    if scratch_root else None
                )
                yield from _frame_batches(
                    _pieces(idx_json, url, file_type, target_chunks, schema,
                            xarray_open_kwargs, preprocess),
                    scratch_url,
                    inline_bytes,
                )

    return map_batches(df, open_split, SPLIT_SCHEMA)


def _target_grid(
    store_path: str, written: Optional[Dict[str, Optional[int]]] = None
) -> Dict[str, Tuple[int, int]]:
    """``{dim: (first, count)}`` of the target chunk grid, read from the
    store's array metadata on the driver. Without ``written``: every dim
    of the store, from chunk 0. With it (each chunked dim mapped to the
    size of the data being written, or None for all of it): only those
    dims, from the chunk that holds the data's first element, since an
    append writes its data at the end of the dim."""
    grid: Dict[str, Tuple[int, int]] = {}
    group = open_group(store_path)
    for name in group.array_names():
        arr = group[name]
        dims = arr.dimension_names or ()
        for dim, size, chunk, n in zip(dims, arr.shape, arr.chunks, arr.nchunks):
            if written is not None and dim not in written:
                continue
            first = (size - ((written or {}).get(dim) or size)) // chunk
            if n - first > grid.get(dim, (0, 0))[1]:
                grid[dim] = (first, n - first)
    return grid


def _combine_write(
    df: DataFrame, store_path: str,
    fragments: Callable[[pa.RecordBatch], Iterator[Tuple[Index, NDDataset]]],
    written: Optional[Dict[str, Optional[int]]] = None,
) -> DataFrame:
    """The one rechunk exchange and combine-write loop of both shuffled
    modes. A row's target chunk (``group_key`` before the first ``|``)
    gets its row-major number in :func:`_target_grid`, which picks one of
    ``spark.sql.shuffle.partitions``: an explicit count AQE does not
    coalesce, and no job samples bounds. ``written=None`` (spill: rows
    carry their bytes) deals chunks out one by one, balanced on any grid
    or append; with ``written`` (reference: rows re-open sources) each
    task takes an equal contiguous run, so the chunks a source spans meet
    in one task's open cache. A task runs its rows in (chunk number,
    ``group_key``) order; the loop makes each row a fragment
    (``fragments``), gathers a group and writes it with
    :func:`_write_group`. Spark cuts input batches at ``maxRecordsPerBatch``
    rows or ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB), and a
    group's inline frames are views into their batches, so a worker holds
    about one target chunk plus two batches."""
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    grid = _target_grid(store_path, written)
    first, count = (
        F.create_map(*(F.lit(v) for d, fn in grid.items() for v in (d, fn[i])))
        .cast("map<string,bigint>") for i in (0, 1)
    )
    chunk = F.from_json(F.substring_index("group_key", "|", 1), "array<array<string>>")
    number = F.aggregate(
        chunk, F.lit(0).cast("long"),
        lambda acc, dim: acc * F.coalesce(count[dim[0]], F.lit(1))
        + dim[1].cast("long") - F.coalesce(first[dim[0]], F.lit(0)),
    )
    slot = F.col("chunk")
    if written is not None:
        slot = F.floor(slot * nparts / int(np.prod([n for _, n in grid.values()])))
    exchanged = (
        df.withColumn("chunk", number)
        .repartitionById(nparts, F.pmod(slot, F.lit(nparts)).cast("int"))
        .sortWithinPartitions("chunk", "group_key")
    )

    def combine_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        key, frags, done = None, [], []
        for batch in batches:
            keys = batch.column("group_key").to_pylist()
            for gk, frag in zip(keys, fragments(batch)):
                if gk != key and frags:
                    done.append(_write_group(key, frags, store_path))
                    frags = []
                key = gk
                frags.append(frag)
        if frags:
            done.append(_write_group(key, frags, store_path))
            yield arrow_batch(STATUS_SCHEMA, zip(*(row.values() for row in done)))

    return exchanged.mapInArrow(combine_write, STATUS_SCHEMA)


def rechunk_and_store(df_split: DataFrame, target_store_path: str) -> DataFrame:
    """Fused combine+write for the spill shuffle (reference
    ``transforms.py:414`` + ``StoreDatasetFragments``) through
    :func:`_combine_write`: each group assembles its target chunk and
    writes its aligned region in the same task. A row's NDS1 frame is its
    ``payload`` cell, read as a zero-copy view over the Arrow buffer — or,
    when ``url`` is set, one range-get of ``(url, offset, length)``.
    Scratch is read only here, after the split stage has committed."""

    def fragments(batch: pa.RecordBatch) -> Iterator[Tuple[Index, NDDataset]]:
        payload = batch.column("payload")
        rows = _rows(batch, "index", "url", "offset", "length")
        for i, (idx_json, url, off, length) in enumerate(rows):
            buf = url_range_get(url, off, length) if url else payload[i].as_buffer()
            yield Index.from_json(idx_json), NDDataset.from_bytes(buf)

    return _combine_write(df_split, target_store_path, fragments)


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

    def split_keys(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                (key, idx_json, url)
                for idx_json, url in _rows(batch, "index", "url")
                # a user preprocessor may touch array DATA (where, coarsen,
                # ...), which lazy views don't support — open eagerly when
                # one is present; metadata-only otherwise
                for key, _, _ in _pieces(
                    idx_json, url, file_type, target_chunks, schema,
                    xarray_open_kwargs, preprocess, load=preprocess is not None,
                )
            ]
            yield arrow_batch(REFS_SCHEMA, zip(*rows))

    return map_batches(df, split_keys, REFS_SCHEMA)


# per-worker-process LRU of opened+preprocessed sources for the reference
# write path: a task writes one contiguous run of target chunks in chunk
# order, so the variables of one chunk, and the neighbouring chunks that
# straddle the same source file, revisit an open source. Two entries bound
# memory at two source files per worker; Python workers are single-threaded.
_REFS_OPEN_CACHE: "OrderedDict[Tuple[str, str, str], Dict[str, tuple]]" = OrderedDict()
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
    """Combine+write for the reference shuffle through
    :func:`_combine_write`: each row re-opens its source file
    (process-level LRU), re-runs the deterministic :func:`_pieces` and
    takes only its own piece; the group is then combined and written by
    the same kernel as every other mode. Determinism of the split (pure
    function of index ⊕ chunk grid) is what makes shuffling references
    instead of payloads sound."""
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

    def fragments(batch: pa.RecordBatch) -> Iterator[Tuple[Index, NDDataset]]:
        # the split is deterministic, so every shuffled reference MUST
        # resolve to a piece — a KeyError here means source files changed
        # between the split and write stages
        for gk, idx_json, url in _rows(batch, "group_key", "index", "url"):
            yield open_pieces(url, idx_json)[gk]

    chunked = determine_target_chunks(schema, target_chunks, False) if schema else target_chunks
    written = {d: (schema or {"dims": {}})["dims"].get(d) for d in chunked or {}}
    return _combine_write(df_refs, target_store_path, fragments, written)


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
    (``_chunks_aligned_with_files``) — then the exchange would place
    exactly one piece per group and move every byte across the cluster
    for nothing. Each piece goes through the same write kernel as a
    one-piece group."""

    def split_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for idx_json, url in _rows(batch, "index", "url"):
                rows = [
                    _write_group(key, [(sub_idx, single)], store_path).values()
                    for key, sub_idx, single in _pieces(
                        idx_json, url, file_type, target_chunks, schema,
                        xarray_open_kwargs, preprocess,
                    )
                ]
                yield arrow_batch(STATUS_SCHEMA, zip(*rows))

    return map_batches(df, split_write, STATUS_SCHEMA)


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
    range-read their pieces straight from the sources), spill otherwise
    (each source decodes once)."""
    if preprocess is None and file_type in _CHUNK_LAZY_TYPES:
        return "reference"
    return "spill"


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
    target chunking misalign; both modes run the same exchange and
    combine-write loop. ``"reference"`` ships only
    ``(group_key, file_index, url)`` rows and the write tasks re-open
    their source files directly (exchange volume drops from O(data) to
    O(#fragments); sources are read a second time, but only the needed
    pieces for chunk-lazy formats). ``"spill"`` decodes each source
    once, ships frames of at most ``SPILL_INLINE_BYTES`` inline through
    the exchange, writes larger ones to a scratch object next to the
    target, and write tasks range-read exactly those frames (scratch
    removed when the run completes). The default (``None``) picks
    ``"reference"`` for chunk-lazy source formats with no user
    preprocessor, ``"spill"`` otherwise. The former ``"payload"`` mode,
    which shipped every frame inline, was merged into ``"spill"`` and
    now raises ``ValueError``.
    """
    if target_chunks and dynamic_chunking_fn:
        raise ValueError("Passing both `target_chunks` and `dynamic_chunking_fn` not allowed.")
    if rechunk_shuffle is None:
        rechunk_shuffle = _auto_rechunk_shuffle(pattern.file_type, preprocess)
    if rechunk_shuffle not in ("reference", "spill"):
        raise ValueError(
            f"rechunk_shuffle must be 'reference' or 'spill', got {rechunk_shuffle!r}"
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
        manifest, file_type, xarray_open_kwargs=xarray_open_kwargs, preprocess=preprocess
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
        schema, store_path, target_chunks=target_chunks, attrs=attrs, append_dim=append_dim,
        compressor=compressor, target_shards=target_shards, zarr_format=zarr_format,
    )

    # pass 2: data — open/preprocess/split fused into one Arrow stage so
    # fragment bytes cross JVM↔Python once before the shuffle; when chunks
    # align with file boundaries the shuffle is skipped entirely
    indexed = index_items(manifest, schema, append_offset=append_offset)
    scratch_root = store_path.rstrip("/") + ".spill"
    shuffled = not _chunks_aligned_with_files(schema, write_chunks, append_offset)
    opts = dict(
        target_chunks=write_chunks, schema=schema, preprocess=preprocess,
        xarray_open_kwargs=xarray_open_kwargs,
    )
    if shuffled and rechunk_shuffle == "reference":
        refs = open_split_refs_df(indexed, file_type, **opts)
        statuses = rechunk_refs_and_store(refs, store_path, file_type=file_type, **opts)
    elif shuffled:
        split = open_split_fragments_df(indexed, file_type, scratch_root=scratch_root, **opts)
        statuses = rechunk_and_store(split, store_path)
    else:
        statuses = open_split_store_df(indexed, store_path, file_type, **opts)
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
            _cleanup_scratch(scratch_root)

    if consolidate_coords:
        _consolidate_coords(store_path)
    if consolidated_metadata:
        _consolidate_metadata(store_path)

    return StoreResult(
        path=store_path, schema=schema, n_chunks_written=int(agg["n"]),
        bytes_written=int(agg["b"]), shuffled=shuffled,
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
    pattern emits just ``pos0``. :func:`combine_references_df`'s partial
    merge runs in the same Python step."""
    import json as _json

    ft = FileType(file_type) if isinstance(file_type, str) else file_type
    dims = list(concat_dims or [])
    n = max(1, len(dims))
    pos_cols = [f"pos{k}" for k in range(n)]

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: Dict[str, list] = {c: [] for c in ["index", *pos_cols, "refs"]}
            for idx_json, url in _rows(batch, "index", "url"):
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
            yield arrow_batch(schema, out.values())

    schema = "index string, " + ", ".join(f"{c} long" for c in pos_cols) + ", refs string"
    return map_batches(df, scan, schema)


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

    One Python step, fused with the scan of :func:`open_with_kerchunk_df`,
    streams each partition's rows into partials: a partial combines,
    along the innermost dim, a run of CONSECUTIVE
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

    def runs(batches: Iterator[pa.RecordBatch]) -> Iterator[Tuple[tuple, List[dict]]]:
        key = start = last = None
        leaves: List[dict] = []
        for batch in batches:
            for *pos, refs in _rows(batch, *pos_cols, "refs"):
                pos = tuple(pos)
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

    def partial_merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = [
            (*start, _json.dumps(combine_references(leaves, [inner], preprocess=preprocess)))
            for start, leaves in runs(batches)
        ]
        if rows:
            yield arrow_batch(out_schema, zip(*rows))

    out_schema = "".join(f"{c} long, " for c in pos_cols) + "refs string"
    partials = map_batches(refs_df, partial_merge, out_schema).collect()
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
        inline_threshold=inline_threshold, kerchunk_open_kwargs=kerchunk_open_kwargs,
    )
    combined = combine_references_df(refs_df, concat_dims, max_refs_per_merge, preprocess=preprocess)

    outpath = os.path.join(target.root_path, store_name, output_file_name)
    ext = os.path.splitext(output_file_name)[-1]
    if ext == ".json":
        return write_reference_json(combined, outpath)
    if ext == ".parquet":
        return write_reference_parquet(combined, outpath)
    raise NotImplementedError(f"file_ext={ext!r} not supported.")
