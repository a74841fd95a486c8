"""Perceptual image hashing + near-duplicate detection — the image-side
analogue of SimHash for text.

The hash is the classic DCT pHash (public algorithm, e.g. the pHash
project / imagehash library): grayscale → resample to 32×32 → 2-D
DCT-II → keep the top-left 8×8 low-frequency block → threshold each
coefficient against the block median → 64 bits. Small visual
perturbations (noise, re-encode, slight crops) move few low-frequency
coefficients, so near-duplicate images land within a small Hamming
radius while distinct images sit near 32.

Distributed shape:

* **Hash map-side** — an Arrow batch step that
  :func:`..parallel.map_batches` fuses with
  :func:`.multimodal.decode_image` (the engine's own PNG/JPEG/J2K
  codecs), and with any media step before it, into one ``mapInArrow``;
  O(1) work per image, no shuffle.
* **Near-dup via banded Hamming** — :func:`.dedup.hamming_near_dup`,
  the SAME engine the text SimHash path uses: one banded exchange,
  window-function bucket stats, per-member JVM pair expansion,
  ``bucket_cap`` star fallback for degenerate buckets (e.g. solid-color
  images that all hash identically at crawl scale). Default 8 bands of
  8 bits → guaranteed recall for Hamming ≤ 7, which covers the
  conventional pHash near-dup radius (≤ 6).

Everything is float64 numpy + a precomputed DCT basis — deterministic
across runs, partitionings, and engines.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..parallel import arrow_batch, map_batches
from .dedup import hamming_near_dup
from .multimodal import decode_image

_HASH_SIZE = 8
_RESAMPLE = 32  # hash_size * highfreq_factor(4), the conventional pHash input


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n, n): row k = sqrt(2/n)·cos(...)
    with the k=0 row scaled by 1/sqrt(2)."""
    k = np.arange(n)[:, None].astype(np.float64)
    i = np.arange(n)[None, :].astype(np.float64)
    basis = np.sqrt(2.0 / n) * np.cos(np.pi * k * (2 * i + 1) / (2 * n))
    basis[0] /= np.sqrt(2.0)
    return basis


_D32 = _dct_basis(_RESAMPLE)


def _resample(img: np.ndarray, size: int) -> np.ndarray:
    """Deterministic resample to (size, size): area-mean when shrinking
    an axis (bin edges ``floor(arange(size+1)·n/size)``), nearest when
    growing (edges would collapse)."""

    def axis_map(n: int) -> tuple:
        if n >= size:
            edges = (np.arange(size + 1) * n) // size
            return ("area", edges.astype(np.intp))
        idx = (np.arange(size) * n) // size
        return ("nearest", idx.astype(np.intp))

    mode_r, map_r = axis_map(img.shape[0])
    if mode_r == "area":
        img = np.add.reduceat(img, map_r[:-1], axis=0) / np.diff(map_r)[:, None]
    else:
        img = img[map_r]
    mode_c, map_c = axis_map(img.shape[1])
    if mode_c == "area":
        img = np.add.reduceat(img, map_c[:-1], axis=1) / np.diff(map_c)[None, :]
    else:
        img = img[:, map_c]
    return img


def phash_bits(img: np.ndarray) -> int:
    """64-bit pHash of one grayscale float image (any shape ≥ 1×1)."""
    small = _resample(np.asarray(img, dtype=np.float64), _RESAMPLE)
    coef = _D32 @ small @ _D32.T
    block = coef[:_HASH_SIZE, :_HASH_SIZE].ravel()
    med = np.median(block)
    bits = block > med
    return int(np.packbits(bits.astype(np.uint8)).view(">u8")[0])


def image_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Map-side pHash: ``(id_col, phash long)`` — one row per image.
    The 64-bit hash rides as a signed long (Spark has no unsigned);
    Hamming math downstream is bit-pattern-only so the sign is inert."""
    if (id_col, media_col) != ("doc_id", "media"):
        df = df.select(df[id_col].alias("doc_id"), df[media_col].alias("media"))
    decoded = decode_image(df, keep_dims=True)
    schema = "doc_id long, phash long"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            hashes = np.empty(batch.num_rows, dtype=np.uint64)
            for i, (px, h, w) in enumerate(
                zip(
                    batch.column("pixels").to_numpy(zero_copy_only=False),
                    batch.column("height").to_pylist(),
                    batch.column("width").to_pylist(),
                )
            ):
                img = np.asarray(px, dtype=np.float64).reshape(h, w)
                hashes[i] = phash_bits(img)
            yield arrow_batch(schema, [batch.column("doc_id"), hashes.view(np.int64)])

    out = map_batches(decoded, run, schema)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def phash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    max_hamming: int = 6,
    bucket_cap: int = 1000,
    bands: int = 8,
) -> DataFrame:
    """Near-duplicate image pairs ``(id_a < id_b, hamming)`` with pHash
    Hamming distance ≤ ``max_hamming``. Guaranteed recall while
    ``max_hamming ≤ bands - 1`` (pigeonhole over the banded exchange);
    above that, banding is a recall-bounded candidate filter — raise
    ``bands`` (64 must divide evenly) to extend the guarantee."""
    sigs = image_phash(df, id_col, media_col)
    return hamming_near_dup(
        sigs,
        "phash",
        id_col=id_col,
        max_hamming=max_hamming,
        bucket_cap=bucket_cap,
        bands=bands,
    )


def phash_dedup_representatives(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    max_hamming: int = 6,
    bucket_cap: int = 1000,
    bands: int = 8,
) -> DataFrame:
    """Collapse near-duplicate images to cluster representatives: the
    connected components of the pHash pair graph (log-round
    large-star/small-star, same as text dedup), keeping each
    component's min id. Returns ``(id_col, rep)`` for EVERY input image
    (singletons map to themselves)."""
    from .components import connected_components

    pairs = phash_near_dup(df, id_col, media_col, max_hamming, bucket_cap, bands)
    comp = connected_components(pairs.select("id_a", "id_b"), src="id_a", dst="id_b")
    ids = df.select(df[id_col].alias("__id")).distinct()
    return ids.join(comp, ids["__id"] == comp["id"], "left").selectExpr(
        f"__id as {id_col}", "coalesce(component, __id) as rep"
    )
