"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical inputs, so two commits measured with one
seed see the same bytes. The program under test only ever receives the
files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List

import numpy as np

# rechunk_zarr: 32 source stores of 8 steps each, re-stored with time=32
RECHUNK_FILES = 32
RECHUNK_STEPS = 8
RECHUNK_LAT, RECHUNK_LON = 64, 128
RECHUNK_TARGET = {"time": 32}

# daily_netcdf4: one step per file, two float32 variables
DAILY_FILES = 60
DAILY_LAT, DAILY_LON = 90, 180
DAILY_TARGET = {"time": 30}

# zarr_scan: a shorter archive of the same files, stored with time=10 so
# a 10-day filter can prune two of three slabs
SCAN_FILES = 30
SCAN_TARGET = {"time": 10}

# operator_mix corpus
N_DOCS = 240
N_VECS = 240
VEC_DIM = 64  # the operators' pinned codebooks are FLOAT[64]

_VOCAB = (
    "the a of data table row column scan join sort merge group key value "
    "batch stream window filter query spark agg hash line part order "
    "vector fast slow big small customer"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def time_coord(start_day: int, n: int):
    from pangeo_forge_recipes_spark.ndset import Variable

    t = np.datetime64("2000-01-01", "ns") + (start_day + np.arange(n)) * np.timedelta64(1, "D")
    return Variable(
        ("time",), t,
        encoding={"units": "days since 2000-01-01", "calendar": "proleptic_gregorian"},
    )


def grid(nlat: int, nlon: int):
    from pangeo_forge_recipes_spark.ndset import Variable

    lat = Variable(("lat",), -90 + (np.arange(nlat) + 0.5) * 180 / nlat, {"units": "degrees_north"})
    lon = Variable(("lon",), (np.arange(nlon) + 0.5) * 360 / nlon, {"units": "degrees_east"})
    return lat, lon


# ---------------------------------------------------------------------------
# gridded arrays (the ground truth the output checks compare against)
# ---------------------------------------------------------------------------


def rechunk_arrays(seed: int) -> dict:
    """Full ``a`` (float64) and ``b`` (int32) arrays of the rechunk input."""
    rng = np.random.default_rng([seed, 1])
    shape = (RECHUNK_FILES * RECHUNK_STEPS, RECHUNK_LAT, RECHUNK_LON)
    return {
        "a": rng.standard_normal(shape),
        "b": rng.integers(-1000, 1000, shape, dtype=np.int32),
    }


def daily_arrays(seed: int, nfiles: int = DAILY_FILES) -> dict:
    """Full ``tas`` and ``pr`` (float32) arrays of the daily archive."""
    rng = np.random.default_rng([seed, 2])
    shape = (nfiles, DAILY_LAT, DAILY_LON)
    # a smooth field plus noise: deflate has something to find, as in
    # real reanalysis output
    lat = np.linspace(-1.0, 1.0, DAILY_LAT)[None, :, None]
    tas = (280.0 - 30.0 * lat**2 + rng.standard_normal(shape)).astype(np.float32)
    pr = rng.gamma(0.5, 2.0, shape).astype(np.float32)
    return {"tas": tas, "pr": pr}


# ---------------------------------------------------------------------------
# file writers
# ---------------------------------------------------------------------------


def write_rechunk_sources(seed: int, root: str) -> List[str]:
    """32 Zarr v3 stores, each chunked one store = one chunk along time."""
    from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
    from pangeo_forge_recipes_spark.dsio import schema_to_zarr, store_dataset_fragment
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
    from pangeo_forge_recipes_spark.types import Index

    arrays = rechunk_arrays(seed)
    lat, lon = grid(RECHUNK_LAT, RECHUNK_LON)
    dims = ("time", "lat", "lon")
    os.makedirs(root, exist_ok=True)
    paths = []
    for f in range(RECHUNK_FILES):
        sl = slice(f * RECHUNK_STEPS, (f + 1) * RECHUNK_STEPS)
        ds = NDDataset(
            data_vars={
                "a": Variable(dims, arrays["a"][sl]),
                "b": Variable(dims, arrays["b"][sl]),
            },
            coords={"time": time_coord(f * RECHUNK_STEPS, RECHUNK_STEPS), "lat": lat, "lon": lon},
        )
        path = os.path.join(root, f"src_{f:03d}.zarr")
        schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": RECHUNK_STEPS})
        store_dataset_fragment((Index(), ds), path)
        paths.append(path)
    return paths


def write_daily_netcdf4(seed: int, root: str, nfiles: int = DAILY_FILES) -> List[str]:
    """One-step daily netCDF4 files, deflate-chunked one step per chunk."""
    from pangeo_forge_recipes_spark.hdf5io import write_hdf5
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    arrays = daily_arrays(seed, nfiles)
    lat, lon = grid(DAILY_LAT, DAILY_LON)
    dims = ("time", "lat", "lon")
    os.makedirs(root, exist_ok=True)
    paths = []
    for day in range(nfiles):
        ds = NDDataset(
            data_vars={
                "tas": Variable(dims, arrays["tas"][day : day + 1], {"units": "K"}),
                "pr": Variable(dims, arrays["pr"][day : day + 1], {"units": "mm/day"}),
            },
            coords={"time": time_coord(day, 1), "lat": lat, "lon": lon},
            attrs={"title": "synthetic daily archive"},
        )
        path = os.path.join(root, f"day_{day:04d}.nc")
        write_hdf5(path, ds, chunks={"time": 1}, compress="deflate")
        paths.append(path)
    return paths


@dataclass
class Corpus:
    documents: "object"  # pandas.DataFrame
    embeddings: "object"


def make_corpus(seed: int, n_docs: int = N_DOCS, n_vecs: int = N_VECS) -> Corpus:
    """Documents and embeddings shaped like the operators' test tables:
    word-salad texts of 8-90 words with ~15% near-copies (1-3 word edits
    of an earlier doc), and unit 64-d float32 vectors around 10 label
    centroids with ~10% near-copies of an earlier vector."""
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    texts: List[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            n = int(rng.integers(8, 91))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)]
        texts.append(" ".join(words))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    centroids = rng.standard_normal((10, VEC_DIM))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = centroids[labels] + 1.5 * rng.standard_normal((n_vecs, VEC_DIM))
    for i in range(1, n_vecs):
        if rng.random() < 0.10:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.05 * rng.standard_normal(VEC_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )
    return Corpus(documents, embeddings)


def write_corpus(seed: int, root: str) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under ``root``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = make_corpus(seed)
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(corpus.documents, preserve_index=False),
        os.path.join(root, "documents.parquet"),
    )
    emb = corpus.embeddings
    table = pa.table(
        {
            "vec_id": pa.array(emb["vec_id"].to_numpy()),
            "embedding": pa.array([v.tolist() for v in emb["embedding"]], pa.list_(pa.float32())),
            "label": pa.array(emb["label"].to_numpy()),
        }
    )
    pq.write_table(table, os.path.join(root, "embeddings.parquet"))
    return root
