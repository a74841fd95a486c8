"""Rechunk kernels: split fragments by target chunk, reassemble per chunk.

Semantics-parity reimplementation of reference ``pangeo_forge_recipes/
rechunking.py:17-242``. These pure functions run inside Spark tasks:
``split_fragment`` inside a flatMap stage, ``combine_fragments`` inside
``groupBy(group_key).applyInArrow`` — the engine's single data shuffle
(the reference flags the same GroupByKey as *the* perf hazard,
``transforms.py:414``).
"""

from __future__ import annotations

import itertools
import json
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np

from .aggregation import XarraySchema, determine_target_chunks
from .chunk_grid import ChunkGrid
from .ndset import NDDataset, combine_nested
from .types import CombineOp, Dimension, Index, IndexedPosition

# Sorted ((dim, target_chunk_index), ...) + merge positions — the shuffle key
# (reference ``rechunking.py:17-20``).
GroupKey = Tuple[Tuple[str, int], ...]


def group_key_to_json(key: GroupKey) -> str:
    """Canonical string form so the key can be a plain StringType groupBy
    column (deterministic: input is always pre-sorted)."""
    return json.dumps(list(key), separators=(",", ":"))


def split_fragment(
    fragment: Tuple[Index, NDDataset],
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
) -> Iterator[Tuple[GroupKey, Tuple[Index, NDDataset]]]:
    """Split one indexed fragment into sub-fragments, one per intersecting
    target chunk (reference ``rechunking.py:23-129``).

    Yields ``(group_key, (sub_index, sub_dataset))``. Dims absent from the
    fragment's index are assumed fully present (the decimate-a-contiguous-dim
    case, reference ``rechunking.py:63-69``).
    """
    if target_chunks is None and schema is None:
        raise ValueError("Must specify either target_chunks or schema (or both).")
    if schema is not None:
        # don't rechunk dims that aren't actually being rechunked
        target_chunks = determine_target_chunks(schema, target_chunks, include_all_dims=False)
    assert target_chunks is not None

    index, ds = fragment

    chunk_and_dimsize: Dict[str, Tuple[int, int]] = {}
    fragment_slices: Dict[str, slice] = {}
    rechunked_concat_dims: List[Dimension] = []
    for dim_name, chunk in target_chunks.items():
        concat_dim = Dimension(dim_name, CombineOp.CONCAT)
        if concat_dim in index:
            position = index[concat_dim]
            dimsize = getattr(position, "dimsize", 0)
            fragment_slices[dim_name] = slice(
                position.value, position.value + ds.sizes[dim_name]
            )
            rechunked_concat_dims.append(concat_dim)
        else:
            dimsize = ds.sizes[dim_name]
            fragment_slices[dim_name] = slice(0, dimsize)
        chunk_and_dimsize[dim_name] = (chunk, dimsize)

    if any(dimsize == 0 for _, dimsize in chunk_and_dimsize.values()):
        raise ValueError(
            "A dimsize of 0 means that this fragment has not been properly indexed."
        )

    # base index entries that are not being rechunked travel through unchanged
    common_index = {k: v for k, v in index.items() if k not in rechunked_concat_dims}
    # merge-dim positions ride along in the group key so combine groups are
    # homogeneous in all merge dims (reference ``rechunking.py:91-101``)
    merge_positions = sorted(
        (dim.name, pos.value)
        for dim, pos in common_index.items()
        if dim.operation == CombineOp.MERGE
    )

    grid = ChunkGrid.from_uniform_grid(chunk_and_dimsize)
    chunk_span = grid.array_slice_to_chunk_slice(fragment_slices)

    per_dim_chunks = [
        [(dim, i) for i in range(sl.start, sl.stop)] for dim, sl in chunk_span.items()
    ]
    for target_chunk_group in itertools.product(*per_dim_chunks):
        chunk_slices = grid.chunk_index_to_array_slice(dict(target_chunk_group))
        indexer: Dict[str, slice] = {}
        sub_index = Index(common_index.copy())
        for dim, chunk_slice in chunk_slices.items():
            frag_slice = fragment_slices[dim]
            start = max(chunk_slice.start, frag_slice.start)
            stop = min(chunk_slice.stop, frag_slice.stop)
            indexer[dim] = slice(start - frag_slice.start, stop - frag_slice.start)
            sub_index[Dimension(dim, CombineOp.CONCAT)] = IndexedPosition(
                start, dimsize=chunk_and_dimsize[dim][1]
            )
        yield (
            tuple(sorted(target_chunk_group) + merge_positions),
            (sub_index, ds.isel(indexer)),
        )


def _invert_meshgrid(*arrays):
    """Invert ``np.meshgrid``: recover the 1-D axes from N-D coordinate cubes,
    asserting the cubes are in fact a meshgrid (reference
    ``rechunking.py:137-152``) — this is the regular-hypercube check."""
    ndim = len(arrays)
    shape = arrays[0].shape
    assert all(a.shape == shape for a in arrays)
    axes = []
    for n in range(ndim):
        sel = [0] * ndim
        sel[ndim - n - 1] = slice(None)
        axes.append(arrays[n][tuple(sel)])
    assert all(
        np.equal(arr, expected.squeeze()).all()
        for arr, expected in zip(arrays, np.meshgrid(*axes))
    )
    return axes


def combine_fragments(
    group: GroupKey, fragments: List[Tuple[Index, NDDataset]]
) -> Tuple[Index, NDDataset]:
    """Reassemble sub-fragments of one target chunk into a single regular
    hypercube (reference ``rechunking.py:156-242``).

    Concat-only: merge dims are never combined here (each merge-dim member is
    its own group — see ``split_fragment``). Validation errors intentionally
    match the reference's messages so its tests transfer.
    """
    fragments = sorted(
        fragments,
        key=lambda item: tuple((d.name, d.operation.name, p.value) for d, p in sorted(
            item[0].items(), key=lambda kv: (kv[0].name, kv[0].operation.name)
        )),
    )

    all_indexes = [idx for idx, _ in fragments]
    all_dsets = [ds for _, ds in fragments]
    first_index = all_indexes[0]
    dimensions = tuple(first_index)
    if not all(tuple(index) == dimensions for index in all_indexes):
        raise ValueError(
            f"Cannot combine fragments for elements with different combine dims: {all_indexes}"
        )
    concat_dims = [d for d in dimensions if d.operation == CombineOp.CONCAT]

    if not all(all(index[dim].indexed for index in all_indexes) for dim in concat_dims):
        raise ValueError(
            "All concat dimension positions must be indexed in order to combine fragments."
        )

    # variable-sharded groups may carry payloads that lack one of the index's
    # concat dims (a coord or static var without that dim): nothing to
    # concatenate along it — the write region comes from the index
    concat_dims = [d for d in concat_dims if d.name in all_dsets[0].sizes]

    if not concat_dims:
        # single-fragment group (nothing to concatenate) — or identical
        # static payloads shipped by several owners; writes are idempotent
        return first_index, all_dsets[0]

    # unstack the flat fragment list into an ND nested structure:
    # infer nesting order from how fast each dim's start offset varies
    dims_starts_sizes = [
        (
            dim.name,
            [index[dim].value for index in all_indexes],
            [ds.sizes[dim.name] for ds in all_dsets],
        )
        for dim in concat_dims
    ]
    dims_starts_sizes.sort(key=lambda item: np.diff(np.array(item[1])).tolist())

    shape = [len(np.unique(starts)) for _, starts, _ in dims_starts_sizes]
    total = int(np.prod(shape))
    if len(fragments) != total:
        raise ValueError(
            "Cannot combine fragments. "
            f"Expected a hypercube of shape {shape} but got {len(fragments)} fragments."
        )

    starts_cube = [np.array(starts).reshape(shape) for _, starts, _ in dims_starts_sizes]
    sizes_cube = [np.array(sizes).reshape(shape) for _, _, sizes in dims_starts_sizes]
    try:
        # reversed: _sort_by_speed_of_varying yields the opposite order from
        # what np.meshgrid expects (reference ``rechunking.py:219-225``)
        starts = _invert_meshgrid(*starts_cube[::-1])[::-1]
        sizes = _invert_meshgrid(*sizes_cube[::-1])[::-1]
    except AssertionError:
        raise ValueError("Cannot combine fragments because they do not form a regular hypercube.")

    expected_sizes = [np.diff(s) for s in starts]
    if not all(np.equal(s[:-1], es).all() for s, es in zip(sizes, expected_sizes)):
        raise ValueError(f"Dataset {sizes} and index starts {starts} are not consistent.")

    nested = np.empty(len(fragments), dtype="O")
    for n, (_, ds) in enumerate(fragments):
        nested[n] = ds
    dsets_nested = nested.reshape(shape).tolist()
    combined = combine_nested(dsets_nested, [name for name, _, _ in dims_starts_sizes])

    return first_index, combined
