"""Single-threaded kernel probes, run in the benchmark process on one
representative seeded input. Megabytes are computed from array sizes
(decoded bytes), not measured on a device."""

from __future__ import annotations

import os
import statistics
import time
from typing import Callable, Dict

import numpy as np

# one representative fragment: 32 daily steps of a float64 and an int32
# variable on the 90x180 grid (6.2 MB decoded)
_NT, _NY, _NX = 32, 90, 180


def _rate(work: float, fn: Callable[[], object], min_s: float = 0.15, min_reps: int = 3) -> float:
    """``work`` divided by the median wall of one call, over at least
    ``min_reps`` calls and ``min_s`` seconds."""
    walls = []
    t_end = time.perf_counter() + min_s
    while len(walls) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return work / statistics.median(walls)


def _fragment(seed: int):
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
    from pangeo_forge_recipes_spark.types import CombineOp, Dimension, Index, IndexedPosition

    from fixtures import grid, time_coord

    rng = np.random.default_rng([seed, 4])
    dims = ("time", "lat", "lon")
    lat, lon = grid(_NY, _NX)
    ds = NDDataset(
        data_vars={
            "a": Variable(dims, rng.standard_normal((_NT, _NY, _NX))),
            "b": Variable(dims, rng.integers(0, 1000, (_NT, _NY, _NX), dtype=np.int32)),
        },
        coords={"time": time_coord(4, _NT), "lat": lat, "lon": lon},
    )
    index = Index({Dimension("time", CombineOp.CONCAT): IndexedPosition(4, dimsize=4 + _NT)})
    return index, ds


def run_probes(seed: int, work_dir: str, span) -> Dict[str, float]:
    """All kernel metrics; ``span(name, fn)`` wraps each probe in a trace
    span."""
    from pangeo_forge_recipes_spark import hdf5io, zarrio
    from pangeo_forge_recipes_spark.aggregation import combine_xarray_schemas, dataset_to_schema
    from pangeo_forge_recipes_spark.ndset import NDDataset
    from pangeo_forge_recipes_spark.operators.imagehash import phash_bits
    from pangeo_forge_recipes_spark.pngio import decode_png_batch, encode_png_batch
    from pangeo_forge_recipes_spark.rechunking import combine_fragments, split_fragment
    from pangeo_forge_recipes_spark.types import Index, IndexedPosition

    os.makedirs(work_dir, exist_ok=True)
    index, ds = _fragment(seed)
    mb = sum(v.data.nbytes for v in ds.data_vars.values()) / 1e6
    out: Dict[str, float] = {}

    def probe(name: str, work: float, fn: Callable[[], object]) -> None:
        out[name] = span(name, _rate, work, fn)

    target = {"time": 8}
    probe("kernel.split_mb_s", mb, lambda: list(split_fragment((index, ds), target_chunks=target)))
    blob = ds.to_bytes()
    probe("kernel.frame_mb_s", mb, ds.to_bytes)
    probe("kernel.unframe_mb_s", mb, lambda: NDDataset.from_bytes(blob))
    # four 8-step fragments that together make one 32-step target chunk
    (dim, pos), = index.items()
    pieces = [
        (Index({dim: IndexedPosition(pos.value + k, dimsize=pos.dimsize)}), ds.isel(time=slice(k, k + 8)))
        for k in range(0, _NT, 8)
    ]
    probe("kernel.combine_mb_s", mb, lambda: combine_fragments(None, pieces))

    a = np.ascontiguousarray(ds.data_vars["a"].data)
    a_mb = a.nbytes / 1e6
    for codec, suffix in ((None, ""), ("zstd", "_zstd")):
        group = zarrio.create_group(os.path.join(work_dir, f"probe{suffix}.zarr"), overwrite=True)
        arr = group.create_array("a", a.shape, (8, _NY, _NX), a.dtype, compressor=codec)

        def put(arr=arr):
            arr[:] = a

        probe(f"kernel.zarr_put{suffix}_mb_s", a_mb, put)
        probe(f"kernel.zarr_get{suffix}_mb_s", a_mb, lambda arr=arr: arr[:])

    # the Zarr DataSource's task body: one zstd slab to one Arrow batch
    from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
    from pangeo_forge_recipes_spark.dsio import schema_to_zarr, store_dataset_fragment
    from pangeo_forge_recipes_spark.sources.zarr_source import ZarrDataSource

    store = os.path.join(work_dir, "probe_source.zarr")
    schema_to_zarr(dataset_to_schema(ds), store, target_chunks={"time": 8}, compressor="zstd")
    store_dataset_fragment((Index(), ds), store)
    source = ZarrDataSource({"path": store})
    reader = source.reader(source.schema())
    slab = reader.partitions()[0]
    probe("kernel.slab_read_mb_s", mb * 8 / _NT, lambda: list(reader.read(slab)))

    nc = os.path.join(work_dir, "probe.nc")
    sub = ds.isel(time=slice(0, 8))
    hdf5io.write_hdf5(nc, sub, chunks={"time": 1}, compress="deflate")
    sub_mb = sum(v.data.nbytes for v in sub.data_vars.values()) / 1e6
    probe("kernel.hdf5_read_mb_s", sub_mb, lambda: hdf5io.read_hdf5(nc))
    probe("kernel.hdf5_schema_per_s", 1.0, lambda: hdf5io.hdf5_schema(nc))
    probe("kernel.hdf5_scan_per_s", 1.0, lambda: hdf5io.scan_hdf5(nc))

    s1 = dataset_to_schema(ds.isel(time=slice(0, 1)))
    s2 = dataset_to_schema(ds.isel(time=slice(1, 2)))
    probe("kernel.schema_union_per_s", 1.0, lambda: combine_xarray_schemas(s1, s2, "time"))

    rng = np.random.default_rng([seed, 5])
    imgs = rng.integers(0, 256, (64, 32, 32), dtype=np.uint8)
    pngs = encode_png_batch(imgs)
    probe("kernel.png_decode_mb_s", imgs.nbytes / 1e6, lambda: decode_png_batch(pngs))
    gray = imgs.astype(np.float64)
    probe("kernel.phash_per_s", len(gray), lambda: [phash_bits(g) for g in gray])
    return out
