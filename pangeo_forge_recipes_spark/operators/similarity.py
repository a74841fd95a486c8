"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and LSH / IVF bucketed variants (scale path).

Scale design (100 TB / billions of vectors):

* brute-force keeps the corpus as a broadcast normalized matrix and runs
  one numpy GEMM per Arrow batch — exact, zero shuffle, bounded by
  broadcast size (~100M 64-d float32 = 25 GB → beyond that, bucket);
* random-hyperplane LSH assigns each vector a bucket key in one scan;
  queries probe only their own bucket (+ multiprobe neighbors) via an
  equi-join on the key — shuffle proportional to candidates, not n²;
* IVF partitions by nearest centroid; probes the ``nprobe`` closest
  centroid lists. Centroid assignment is a broadcast join.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parallel import materialize_branch_input, spread
from ..session import local_df

#: Default ceiling on the estimated driver-collected payload of the
#: broadcast-exact tiers (bytes of the float64 matrix / PQ code table the
#: driver must hold and broadcast). A mis-sized call used to be a silent
#: driver OOM; now it raises up front naming the bucketed alternative.
#: 2 GiB ≈ 4M 64-d float64 vectors — comfortably inside a local driver,
#: far below what a cluster driver tolerates, and overridable per call.
DEFAULT_BROADCAST_BOUND_BYTES = 2 << 30

#: :func:`lsh_ann_topk` broadcasts its capped candidate side when the
#: vectors estimate at most this many bytes; above it the join shuffles.
LSH_BROADCAST_BYTES = 256 << 20


def estimate_collect_bytes(
    df: DataFrame, vec_col: str, bytes_per_elem: int = 8, elems: Optional[int] = None
) -> Tuple[int, int, int]:
    """One cheap aggregation job estimating the driver-collect payload:
    ``(rows, per_row_elems, total_bytes)``. ``elems`` overrides the
    measured array width (PQ codes: ``m`` bytes, not ``dim`` floats)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(F.col(vec_col))).alias("d")
    ).collect()[0]
    rows = int(agg["n"] or 0)
    width = int(elems if elems is not None else (agg["d"] or 0))
    return rows, width, rows * width * bytes_per_elem


def _guard_broadcast_bound(
    df: DataFrame,
    vec_col: str,
    *,
    op: str,
    alternative: str,
    max_broadcast_bytes: Optional[int],
    bytes_per_elem: int = 8,
    elems: Optional[int] = None,
) -> None:
    """Enforce the broadcast-exact tier's size bound BEFORE collecting.

    The exact tiers are broadcast-bounded by design (docstrings say so);
    this makes the bound load-bearing: above it the call raises a
    ValueError naming the bucketed alternative instead of OOMing the
    driver. Pass ``max_broadcast_bytes=0`` (or negative) to skip the
    estimate entirely (the caller asserts the corpus fits)."""
    bound = (
        DEFAULT_BROADCAST_BOUND_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    if bound <= 0:
        return
    rows, width, est = estimate_collect_bytes(df, vec_col, bytes_per_elem, elems)
    if est > bound:
        raise ValueError(
            f"{op}: estimated driver-collect payload {est:,} bytes "
            f"({rows:,} rows x {width} elems x {bytes_per_elem} B) exceeds the "
            f"broadcast-exact bound {bound:,} bytes. This tier collects the "
            f"corpus to the driver; at this size use the bucketed "
            f"alternative: {alternative}. (Override with max_broadcast_bytes "
            f"if the driver genuinely has the memory.)"
        )


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> Tuple[np.ndarray, np.ndarray]:
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    exclude_self: bool = True,
    max_broadcast_bytes: Optional[int] = None,
) -> DataFrame:
    """Exact cosine top-k for every query vector against the corpus.

    Ties broken by ascending neighbor id; scores rounded for cross-engine
    reproducibility. Output: (vec_id, neighbor_id, rank, cosine).

    Broadcast-exact tier: the corpus is collected to the driver and
    broadcast — size-gated by ``max_broadcast_bytes`` (default
    :data:`DEFAULT_BROADCAST_BOUND_BYTES`); above the bound the call
    raises pointing at :func:`ivf_topk` / :func:`lsh_ann_topk`."""
    spark = queries.sparkSession
    _guard_broadcast_bound(
        corpus,
        vec_col,
        op="brute_force_topk",
        alternative="similarity.ivf_topk (exact-ish, sharded lists) or "
        "similarity.lsh_ann_topk (bucketed candidates)",
        max_broadcast_bytes=max_broadcast_bytes,
    )
    ids, mat = _collect_matrix(corpus, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, _normalize(mat)))

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value  # c_ids ascending (sorted in _collect_matrix)
        for pdf in batches:
            q = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            qids = pdf[id_col].to_numpy()
            sims = q @ c_mat.T  # (batch, corpus) GEMM
            ranked = sims
            if exclude_self:
                ranked = np.where(c_ids[None, :] == qids[:, None], -np.inf, sims)
            # k can exceed the candidate pool (tiny corpora): cap it so the
            # output arrays stay consistent and a -inf-masked self entry is
            # never emitted as a neighbor
            kk = min(k, len(c_ids) - (1 if exclude_self else 0))
            if kk <= 0:
                continue
            # stable sort on -cosine: equal scores keep corpus order, which
            # is ascending neighbor_id — the deterministic tie-break. (At
            # billion-vector corpus width, swap for argpartition + local
            # stable sort of the k-candidate slab.)
            idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kk]
            n = len(qids)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(qids, kk),
                    "neighbor_id": c_ids[idx].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype="int32"), n),
                    "cosine": np.round(
                        np.take_along_axis(sims, idx, axis=1), round_to
                    ).ravel(),
                }
            )

    return spread(queries.select(id_col, vec_col)).mapInPandas(
        topk, "vec_id long, neighbor_id long, rank int, cosine double"
    )


def _sample_centroids(
    df: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic distributed centroid sample: the ``n_centroids`` rows
    with the smallest ``md5(id)`` — a seeded pseudo-random draw that plans
    as TakeOrderedAndProject (distributed partial top-k), so the driver
    ever holds O(n_centroids) rows, never the corpus. (The previous
    implementation collected the full corpus to slice every n/k-th row —
    a driver OOM at billion-vector scale.)"""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    # sort by id so centroid indices are stable/readable
    rows.sort(key=lambda r: r[0])
    return _normalize(np.array([r[1] for r in rows], dtype=np.float64))


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((nbits, dim))


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    seed: int = 42,
    carry_vec: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH: sign pattern of ``nbits`` projections →
    integer bucket key. One scan, no shuffle.

    r12 (guide §1.2/§4.5): the hyperplanes are a pure function of
    ``(dim, nbits, seed)``, so each task derives them from its first
    batch — the former ``df.first()`` dim-probe job and the driver
    broadcast are gone. ``carry_vec=True`` emits the vector alongside
    the bucket so callers (``lsh_ann_topk``) need no join back to the
    corpus to recover it."""
    weights = (1 << np.arange(nbits)).astype(np.int64)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if p is None:
                p = _hyperplanes(mat.shape[1], nbits, seed)
            elif mat.shape[1] != p.shape[1]:
                # r13 (r12 ADVICE): hyperplanes are derived from the first
                # batch's dim — a ragged corpus (per-partition-uniform but
                # globally mixed widths) would otherwise bucket against
                # DIFFERENT plane sets per task, silently corrupting ANN
                # candidates. Fail loudly instead.
                raise ValueError(
                    f"lsh_buckets: vector dim changed mid-task "
                    f"({p.shape[1]} -> {mat.shape[1]}); mixed-dimension "
                    f"corpora cannot share one hyperplane set"
                )
            bits = (mat @ p.T) > 0
            buckets = (bits.astype(np.int64) * weights).sum(axis=1)
            out = {id_col: pdf[id_col], "bucket": buckets}
            if carry_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    vec_t = dict(df.select(vec_col).dtypes)[vec_col]
    schema = f"{id_col} long, bucket long" + (
        f", {vec_col} {vec_t}" if carry_vec else ""
    )
    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def lsh_ann_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    round_to: int = 4,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Approximate top-k restricted to same-bucket candidates: bucket assign
    → equi-self-join on bucket → exact cosine rank within bucket. The
    shuffle moves only bucket-mates (ANN scale path).

    A degenerate bucket (e.g. near-zero vectors all hashing together)
    would make the self-join O(N²) inside that bucket, so the candidate
    (right) side is capped: a per-bucket ``row_number`` ordered by id
    keeps only the first ``bucket_cap`` members as candidates. Buckets
    at or under the cap are untouched (rn ≤ size ≤ cap); hot buckets
    degrade to ranking against a deterministic bounded subset, bounding
    candidate volume to O(bucket_cap × n). Same guard as
    ``dedup.minhash_lsh_candidates``; the window shuffles on ``bucket``,
    the same key the join needs, so no extra exchange is introduced."""
    from pyspark.sql.window import Window

    # r12 (guide §2.4): the bucket assignment carries the vector through
    # the Python scan, so the former corpus⋈buckets join on id (a full
    # shuffle of both sides at scale) is gone — the only exchange left
    # before scoring is the bucket-key one the window/join need anyway.
    # The assignment is materialized once
    # (``parallel.materialize_branch_input`` — default eager
    # localCheckpoint; 100 TB caveat: blocks are non-replicated, so an
    # executor loss fails the query instead of recomputing — set
    # SPARK_GRAFT_BRANCH_MATERIALIZE=persist on spot/dynamic clusters):
    # the l/r sides are two plan branches and AQE does not reuse the
    # shuffle stage across branches (measured — tools/check_reuse.py),
    # so the Python scan would otherwise run twice.
    vecs = materialize_branch_input(
        lsh_buckets(df, id_col, vec_col, nbits, carry_vec=True)
    )
    l = vecs.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v_a"), "bucket"
    )
    wcap = Window.partitionBy("bucket").orderBy(F.col(id_col))
    r = (
        vecs.withColumn("__rn", F.row_number().over(wcap))
        .filter(F.col("__rn") <= bucket_cap)
        .select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_b"), "bucket"
        )
    )
    # r13 (guide §3.1, r12 verdict #5): the remaining l⋈r bucket-meet
    # join planned as a sort-merge that shuffled BOTH sides. The capped
    # candidate side is ≤ the corpus (row_number ≤ bucket_cap per
    # bucket); when the checkpointed assignment estimates under the
    # broadcast gate, hint a broadcast so the probe side streams with no
    # exchange at all. Above the gate (or on estimate failure) the hint
    # is skipped and the planner keeps the shuffle join.
    try:
        _, _, est = estimate_collect_bytes(vecs, vec_col)
    except Exception:
        est = LSH_BROADCAST_BYTES + 1
    if est <= LSH_BROADCAST_BYTES:
        r = F.broadcast(r)
    pairs = l.join(r, "bucket").filter(F.col("vec_id") != F.col("neighbor_id"))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a = _normalize(np.array(list(pdf["v_a"]), dtype=np.float64))
            b = _normalize(np.array(list(pdf["v_b"]), dtype=np.float64))
            cos = np.einsum("ij,ij->i", a, b)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cosine": np.round(cos, round_to),
                }
            )

    scored = pairs.mapInPandas(score, "vec_id long, neighbor_id long, cosine double")
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization with deterministic sampled centroids (the
    ``n_centroids`` smallest-md5(id) vectors — O(n_centroids) driver rows).
    Output: (vec_id, centroid) — the partition key for inverted-list
    search."""
    spark = df.sparkSession
    centroids = _sample_centroids(df, n_centroids, id_col, vec_col)
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            q = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            nearest = (q @ c.T).argmax(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "centroid": nearest.astype("int32")})

    return df.select(id_col, vec_col).mapInPandas(assign, f"{id_col} long, centroid int")


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate self-search via IVF inverted lists: corpus vectors land in
    their nearest centroid's list; each query probes its ``nprobe`` closest
    lists.

    Plan shape (one Python scan, one shuffle):

    1. ONE fused ``mapInPandas`` over the corpus emits, per vector, its
       corpus row (argmax list) AND its ``nprobe`` probe rows — halving
       Arrow traffic vs separate corpus-assign / query-probe scans.
    2. ``groupBy(centroid).applyInPandas`` meets each inverted list with
       its probes and runs ONE numpy GEMM per list, emitting only each
       query's per-list top-k (ordered by rounded cosine desc, neighbor
       id asc — a correct partial under the final total order).
    3. A global window merges the ≤ nprobe×k partials per query.

    Shuffle volume is corpus + nprobe×queries rows, never n²; the window
    input is nprobe×k rows per query instead of the full candidate set.
    A pathologically hot centroid list concentrates its GEMM in one task
    — re-run with larger ``n_centroids`` if a list exceeds executor
    memory (IVF's standard knob)."""
    spark = df.sparkSession
    centroids = _sample_centroids(df, n_centroids, id_col, vec_col)
    bc = spark.sparkContext.broadcast(centroids)
    npb = min(nprobe, len(centroids))

    def assign_both(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            v = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            order = np.argsort(-(v @ c.T), axis=1, kind="stable")[:, :npb]
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            vecs = list(pdf[vec_col])
            yield pd.DataFrame(
                {
                    "id": np.concatenate([ids, np.repeat(ids, npb)]),
                    "vec": vecs + [vv for vv in vecs for _ in range(npb)],
                    # order[:, 0] is the argmax (stable sort) = corpus list
                    "centroid": np.concatenate(
                        [order[:, 0], order.ravel()]
                    ).astype("int32"),
                    "is_probe": np.concatenate(
                        [np.zeros(n, bool), np.ones(n * npb, bool)]
                    ),
                }
            )

    src = df.select(id_col, vec_col)
    vec_t = dict(src.dtypes)[vec_col]
    fused = spread(src).mapInPandas(
        assign_both, f"id long, vec {vec_t}, centroid int, is_probe boolean"
    )

    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "cosine": pd.Series(dtype="float64"),
        }
    )

    def score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        probes = pdf[pdf["is_probe"]]
        corpus = pdf[~pdf["is_probe"]].sort_values("id")  # asc-id tie-break
        if len(probes) == 0 or len(corpus) == 0:
            return empty
        q = _normalize(np.array(list(probes["vec"]), dtype=np.float64))
        c = _normalize(np.array(list(corpus["vec"]), dtype=np.float64))
        qids = probes["id"].to_numpy()
        cids = corpus["id"].to_numpy()
        sims = np.round(q @ c.T, round_to)
        sims = np.where(cids[None, :] == qids[:, None], -np.inf, sims)
        kk = min(k, sims.shape[1])
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        top = np.take_along_axis(sims, idx, axis=1)
        valid = np.isfinite(top).ravel()
        return pd.DataFrame(
            {
                "vec_id": np.repeat(qids, kk)[valid],
                "neighbor_id": cids[idx].ravel()[valid],
                "cosine": top.ravel()[valid],
            }
        )

    scored = fused.groupBy("centroid").applyInPandas(
        score_list, "vec_id long, neighbor_id long, cosine double"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — the compressed-broadcast tier between exact
# brute force and IVF bucketing
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 8,
) -> np.ndarray:
    """Train product-quantization codebooks: the embedding splits into
    ``m`` subvectors and each subspace gets its own ``2**nbits``-entry
    k-means codebook (Jégou et al., "Product Quantization for Nearest
    Neighbor Search"). Training runs on a DETERMINISTIC md5-sampled
    subset (TakeOrdered — the driver holds O(sample) rows, the standard
    faiss practice of training PQ on a sample), with farthest-point
    init and fixed iteration count, so codebooks are reproducible.
    Returns the (m, 2**nbits, dim//m) codebook tensor — the
    broadcastable model artifact, never corpus-sized."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    x = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    ksub = 1 << nbits
    if n < ksub:
        raise ValueError(f"sample of {n} vectors < {ksub} codes per subspace")
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = np.ascontiguousarray(x[:, j * dsub : (j + 1) * dsub])
        cent = np.empty((ksub, dsub))
        cent[0] = sub[0]
        dist = np.sum((sub - cent[0]) ** 2, axis=1)
        for c in range(1, ksub):
            cent[c] = sub[int(np.argmax(dist))]
            dist = np.minimum(dist, np.sum((sub - cent[c]) ** 2, axis=1))
        for _ in range(n_iter):
            d2 = (
                np.sum(sub**2, axis=1, keepdims=True)
                - 2 * (sub @ cent.T)
                + np.sum(cent**2, axis=1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                msk = assign == c
                if msk.any():
                    cent[c] = sub[msk].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus to PQ codes: map-only (broadcast codebooks, one
    vectorized argmin per subspace per Arrow batch), no shuffle. Output
    ``(id, codes array<int>)`` — m small ints per vector, a 16-32x
    footprint cut vs float32 embeddings."""
    spark = df.sparkSession
    m, ksub, dsub = codebooks.shape
    bc = spark.sparkContext.broadcast(codebooks)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        for pdf in batches:
            v = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                cent = books[j]
                d2 = (
                    np.sum(sub**2, axis=1, keepdims=True)
                    - 2 * (sub @ cent.T)
                    + np.sum(cent**2, axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    df: DataFrame,
    k: int = 3,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: Optional[np.ndarray] = None,
    round_to: int = 4,
    max_broadcast_bytes: Optional[int] = None,
) -> DataFrame:
    """Approximate self-search by asymmetric distance over PQ codes:
    the corpus broadcasts as m-byte codes (16-32x smaller than the
    float32 matrix — this tier stretches the broadcast-exact bound by
    the same factor; beyond it, compose with IVF lists), and each query
    batch builds one (m, 2**nbits) dot-product lookup table, scoring
    the whole corpus with m byte-gathers per query instead of a GEMM.
    Scores are approximate cosines (codebook reconstruction of the
    corpus side); ties break by ascending neighbor id. Output mirrors
    :func:`brute_force_topk`: (vec_id, neighbor_id, rank, score).

    Size-gated like :func:`brute_force_topk`, with the code-table payload
    (``m`` bytes/row, 16-32x under the float matrix) as the estimate —
    above ``max_broadcast_bytes`` the call raises pointing at IVF."""
    spark = df.sparkSession
    if codebooks is None:
        codebooks = pq_train(df, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col)
    m, ksub, dsub = codebooks.shape
    _guard_broadcast_bound(
        df,
        vec_col,
        op="pq_topk",
        alternative="similarity.ivf_topk (or IVF-PQ: ivf_assign the corpus, "
        "pq_topk within each inverted list)",
        max_broadcast_bytes=max_broadcast_bytes,
        bytes_per_elem=4,  # int32 codes as collected below
        elems=m,
    )
    enc_rows = pq_encode(df, codebooks, id_col, vec_col).collect()
    c_ids = np.array([r[0] for r in enc_rows], dtype=np.int64)
    c_codes = np.array([r[1] for r in enc_rows], dtype=np.int32)
    order = np.argsort(c_ids)
    c_ids, c_codes = c_ids[order], c_codes[order]
    bc = spark.sparkContext.broadcast((c_ids, c_codes, codebooks))

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, codes, books = bc.value
        n_corpus = len(ids)
        kk = min(k, n_corpus - 1)
        if kk <= 0:
            return
        for pdf in batches:
            q = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            qids = pdf[id_col].to_numpy()
            b = len(pdf)
            scores = np.zeros((b, n_corpus), dtype=np.float64)
            for j in range(m):
                lut = q[:, j * dsub : (j + 1) * dsub] @ books[j].T  # (b, ksub)
                scores += lut[:, codes[:, j]]
            ranked = np.where(ids[None, :] == qids[:, None], -np.inf, scores)
            idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kk]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(qids, kk),
                    "neighbor_id": ids[idx].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype="int32"), b),
                    "score": np.round(
                        np.take_along_axis(scores, idx, axis=1), round_to
                    ).ravel(),
                }
            )

    return spread(df.select(id_col, vec_col)).mapInPandas(
        topk, "vec_id long, neighbor_id long, rank int, score double"
    )


def ann_topk_auto(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    max_broadcast_bytes: Optional[int] = None,
    nprobe: int = 4,
    n_centroids: int = 16,
) -> DataFrame:
    """Size-dispatched self-search: the ONE cheap count×dim estimate that
    gates the broadcast-exact tier also picks the tier — within the
    broadcast bound it runs :func:`brute_force_topk` (exact, zero
    shuffle); beyond it, :func:`ivf_topk` (sharded inverted lists, the
    scale path). Use this when the corpus size is not known up front;
    call the tiers directly when the choice is semantic (exact results
    required -> raise beyond the bound rather than silently go
    approximate). Output: (vec_id, neighbor_id, rank, score)."""
    bound = (
        DEFAULT_BROADCAST_BOUND_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    # bound <= 0 = the documented opt-out (caller asserts fit): skip the
    # estimate job entirely and take the exact tier
    est = 0 if bound <= 0 else estimate_collect_bytes(df, vec_col)[2]
    if bound > 0 and est > bound:
        return ivf_topk(
            df,
            k=k,
            nprobe=nprobe,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            round_to=round_to,
        )
    out = brute_force_topk(
        df,
        df,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        max_broadcast_bytes=0,  # estimate already done above
    )
    return out.withColumnRenamed("cosine", "score")


def ivf_pq_topk(
    df: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    n_centroids: int = 16,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: Optional[np.ndarray] = None,
    round_to: int = 4,
) -> DataFrame:
    """IVF x PQ composition — the billion-vector self-search tier: IVF
    inverted lists bound the candidate set per query (as in
    :func:`ivf_topk`), and the corpus side of THE shuffle carries m-byte
    PQ codes instead of float vectors — exchange volume and per-list
    memory shrink 16-32x, nothing corpus-sized broadcasts or collects.

    Plan shape mirrors ivf_topk's (one fused Python scan, one shuffle,
    window merge); scoring within each list is the asymmetric-distance
    LUT of :func:`pq_topk` (each query builds one (m, 2^nbits)
    dot-product table; the list scores with m byte-gathers per query
    instead of a GEMM). Codes follow pq_encode's convention (normalized
    vectors, per-subspace argmin against the codebooks), so scores are
    approximate cosines of the codebook reconstruction. Ties break by
    ascending neighbor id. Output mirrors the other tiers:
    ``(vec_id, neighbor_id, rank, score)``."""
    spark = df.sparkSession
    if codebooks is None:
        codebooks = pq_train(df, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col)
    m, ksub, dsub = codebooks.shape
    centroids = _sample_centroids(df, n_centroids, id_col, vec_col)
    bc = spark.sparkContext.broadcast((centroids, codebooks))
    npb = min(nprobe, len(centroids))

    def assign_both(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, books = bc.value
        for pdf in batches:
            v = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            order = np.argsort(-(v @ cents.T), axis=1, kind="stable")[:, :npb]
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            # corpus rows ship CODES (pq_encode's exact convention) ...
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                cent = books[j]
                d2 = (
                    np.sum(sub**2, axis=1, keepdims=True)
                    - 2 * (sub @ cent.T)
                    + np.sum(cent**2, axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            # ... probe rows ship the raw vector (queries build the LUTs)
            vecs = list(pdf[vec_col])
            yield pd.DataFrame(
                {
                    "id": np.concatenate([ids, np.repeat(ids, npb)]),
                    "vec": [None] * n + [vv for vv in vecs for _ in range(npb)],
                    "codes": list(codes) + [None] * (n * npb),
                    "centroid": np.concatenate(
                        [order[:, 0], order.ravel()]
                    ).astype("int32"),
                    "is_probe": np.concatenate(
                        [np.zeros(n, bool), np.ones(n * npb, bool)]
                    ),
                }
            )

    src = df.select(id_col, vec_col)
    vec_t = dict(src.dtypes)[vec_col]
    fused = spread(src).mapInPandas(
        assign_both,
        f"id long, vec {vec_t}, codes array<int>, centroid int, is_probe boolean",
    )

    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        }
    )

    def score_list(pdf: pd.DataFrame) -> pd.DataFrame:
        books = bc.value[1]
        probes = pdf[pdf["is_probe"]]
        corpus = pdf[~pdf["is_probe"]].sort_values("id")  # asc-id tie-break
        if len(probes) == 0 or len(corpus) == 0:
            return empty
        q = _normalize(np.array(list(probes["vec"]), dtype=np.float64))
        codes = np.array(list(corpus["codes"]), dtype=np.int32)
        qids = probes["id"].to_numpy()
        cids = corpus["id"].to_numpy()
        scores = np.zeros((len(qids), len(cids)), dtype=np.float64)
        for j in range(m):
            lut = q[:, j * dsub : (j + 1) * dsub] @ books[j].T  # (b, ksub)
            scores += lut[:, codes[:, j]]
        # rank on UNROUNDED scores (pq_topk's convention, so full-probe
        # IVFxPQ agrees with it exactly even at rounding ties); per-list
        # emissions stay unrounded too — the global window must re-rank
        # across lists on the same values — and round at the very end
        scores = np.where(cids[None, :] == qids[:, None], -np.inf, scores)
        kk = min(k, scores.shape[1])
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :kk]
        top = np.take_along_axis(scores, idx, axis=1)
        valid = np.isfinite(top).ravel()
        return pd.DataFrame(
            {
                "vec_id": np.repeat(qids, kk)[valid],
                "neighbor_id": cids[idx].ravel()[valid],
                "score": top.ravel()[valid],
            }
        )

    scored = fused.groupBy("centroid").applyInPandas(
        score_list, "vec_id long, neighbor_id long, score double"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "neighbor_id",
            "rank",
            F.round(F.col("score"), round_to).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# persisted IVF×PQ index: build once, query many (the faiss-on-disk pattern)
# ---------------------------------------------------------------------------


def _ivf_pq_encode_rows(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Map-only IVF assign + PQ encode against a FIXED model."""
    m, ksub, dsub = codebooks.shape
    bc = df.sparkSession.sparkContext.broadcast((centroids, codebooks))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, books = bc.value
        for pdf in batches:
            v = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            assign = np.argmax(v @ cents.T, axis=1).astype("int32")
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                cent = books[j]
                d2 = (
                    np.sum(sub**2, axis=1, keepdims=True)
                    - 2 * (sub @ cent.T)
                    + np.sum(cent**2, axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "centroid": assign,
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, "vec_id long, centroid int, codes array<int>"
    )


def _check_index_path(path: str) -> bool:
    """True when the index lives on the object store (``s3://``); local
    and ``file://`` paths return False; anything else raises."""
    from urllib.parse import urlparse

    scheme = urlparse(str(path)).scheme
    if scheme in ("s3", "gs", "abfs", "abfss", "az"):
        return True
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"ivf_pq index paths must be local, s3://, or gs:// "
            f"(got {scheme}://)"
        )
    return False


# -- object-store index IO ---------------------------------------------------
# A serving index must live on cloud storage (the reference's whole
# domain is cloud object stores). Spark's own parquet writer would need
# a Hadoop s3 connector, so the s3 tier carries its OWN part IO through
# the engine's native S3 client: the same `vectors/centroid=*/` layout,
# parts pyarrow-encoded INSIDE executor tasks (one shuffle on centroid,
# no driver data path), and the query path fetches ONLY the probed
# centroids' objects — the file-level pruning contract, enforced by key
# prefix instead of Catalyst PartitionFilters.


def _index_meta_io(path: str):
    """(load, save) closures for ``meta.npz`` at a local or s3 path."""
    import io as _io
    import os as _os

    if _check_index_path(path):
        from ..storage import object_store_for

        store = object_store_for(path)

        def load():
            return np.load(_io.BytesIO(store.get("meta.npz")))

        def save(**arrays):
            buf = _io.BytesIO()
            np.savez(buf, **arrays)
            store.put("meta.npz", buf.getvalue())

        return load, save

    def load():
        return np.load(_os.path.join(path, "meta.npz"))

    def save(**arrays):
        _os.makedirs(path, exist_ok=True)
        np.savez(_os.path.join(path, "meta.npz"), **arrays)

    return load, save


def _write_index_rows_s3(rows: DataFrame, path: str) -> int:
    """Write encoded (vec_id, centroid, codes) rows into the s3 index:
    ONE shuffle co-locates each centroid's rows, tasks sort by centroid
    and stream pyarrow-encoded parts of ≤131072 rows per object to
    ``vectors/centroid=<c>/part-<pid>-<seq>.parquet``. Part keys
    are deterministic in (partition id, sequence), so a
    retried task overwrites its own objects — idempotent, like the
    local writer. Returns the number of rows written (summed from the
    per-part manifest, truthful under nondeterministic inputs)."""
    import io as _io

    from pyspark import TaskContext

    part_rows = 131072
    root = path

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..storage import object_store_for

        store = object_store_for(root)
        pid = TaskContext.get().partitionId()
        seq = 0
        buf_ids: list = []
        buf_codes: list = []
        cur_centroid = None
        written = []

        def flush():
            nonlocal seq, buf_ids, buf_codes
            if not buf_ids:
                return
            t = pa.table(
                {
                    "vec_id": pa.array(buf_ids, pa.int64()),
                    "codes": pa.array(buf_codes, pa.list_(pa.int32())),
                }
            )
            sink = _io.BytesIO()
            pq.write_table(t, sink)
            key = (
                f"vectors/centroid={cur_centroid}/"
                f"part-{pid:05d}-{seq:04d}.parquet"
            )
            store.put(key, sink.getvalue())
            written.append((int(cur_centroid), len(buf_ids)))
            seq += 1
            buf_ids, buf_codes = [], []

        for pdf in batches:
            for vid, cent, codes in zip(
                pdf["vec_id"], pdf["centroid"], pdf["codes"]
            ):
                c = int(cent)
                if cur_centroid is None:
                    cur_centroid = c
                elif c != cur_centroid or len(buf_ids) >= part_rows:
                    flush()
                    cur_centroid = c
                buf_ids.append(int(vid))
                buf_codes.append([int(x) for x in codes])
        flush()
        if written:
            yield pd.DataFrame(written, columns=["centroid", "n_rows"])

    manifest = (
        rows.repartition("centroid")
        .sortWithinPartitions("centroid")
        .mapInPandas(write, "centroid int, n_rows long")
        .collect()
    )
    return int(sum(r["n_rows"] for r in manifest))


def _read_index_rows_s3(spark, path: str, probed) -> DataFrame:
    """Scan ONLY the probed centroids' part objects from an s3 index:
    the driver lists O(nprobe) key prefixes (metadata, bounded by index
    fan-out × parts-per-list), then executor tasks fetch + pyarrow-parse
    one object each — fully distributed, bytes read ∝ probed lists."""
    import io as _io

    from ..storage import object_store_for

    store = object_store_for(path)
    keys = []
    for c in probed:
        keys.extend(
            (k, int(c)) for k in store.list_prefix(f"vectors/centroid={int(c)}")
        )
    if not keys:
        return local_df(spark, [], "vec_id long, centroid int, codes array<int>")
    kdf = local_df(spark, keys, "key string, centroid int").repartition(
        min(len(keys), 64)
    )
    root = path

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        store = object_store_for(root)
        for pdf in batches:
            for key, cent in zip(pdf["key"], pdf["centroid"]):
                t = pq.read_table(_io.BytesIO(store.get(key)))
                out = t.to_pandas()
                out["centroid"] = int(cent)
                yield out[["vec_id", "centroid", "codes"]]

    return kdf.mapInPandas(fetch, "vec_id long, centroid int, codes array<int>")


def build_ivf_pq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize an IVF×PQ index on disk: ONE pass over the corpus
    assigns each vector to its nearest coarse centroid and PQ-encodes it;
    rows land as parquet **partitioned by the centroid (inverted list)**,
    so a later query that probes ``nprobe`` of ``n_centroids`` lists
    reads ``nprobe/n_centroids`` of the index BYTES — Catalyst partition
    pruning does the list selection at the file level, which is the
    faiss-on-disk access pattern expressed in Spark's own storage terms.

    The per-query tiers (:func:`ivf_pq_topk` etc.) re-derive the model
    per call — right for one-shot self-search, wrong for a serving
    corpus queried repeatedly; this is the build-once artifact. Model
    metadata (centroids + codebooks, O(n_centroids·dim) bytes) lands at
    ``<path>/meta.npz``; vectors at ``<path>/vectors/centroid=*/``.

    ``path`` may be a local directory or an ``s3://`` url — the serving
    tier: parts stream from executor tasks through the native S3 client
    and queries fetch only probed lists (see ``_write_index_rows_s3``).

    Returns ``{"n_centroids", "m", "nbits", "dim", "n_vectors"}``.
    """
    import os as _os

    on_s3 = _check_index_path(path)
    codebooks = pq_train(df, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col)
    m, ksub, dsub = codebooks.shape
    centroids = _sample_centroids(df, n_centroids, id_col, vec_col)
    rows = _ivf_pq_encode_rows(df, centroids, codebooks, id_col, vec_col)
    _load, save_meta = _index_meta_io(path)
    if on_s3:
        n_vectors = _write_index_rows_s3(rows, path)
        save_meta(centroids=centroids, codebooks=codebooks)
    else:
        _os.makedirs(path, exist_ok=True)
        rows.write.mode("overwrite").partitionBy("centroid").parquet(
            _os.path.join(path, "vectors")
        )
        save_meta(centroids=centroids, codebooks=codebooks)
        spark = df.sparkSession
        n_vectors = spark.read.parquet(_os.path.join(path, "vectors")).count()
    return {
        "n_centroids": int(len(centroids)),
        "m": int(m),
        "nbits": int(nbits),
        "dim": int(centroids.shape[1]),
        "n_vectors": int(n_vectors),
    }


def query_ivf_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Query a :func:`build_ivf_pq_index` artifact: each query probes its
    ``nprobe`` nearest inverted lists; the index scan is filtered to the
    UNION of probed centroids with a literal ``IN`` predicate, so
    Catalyst prunes unprobed ``centroid=*`` partitions at planning time
    (the scan's PartitionFilters — O(nprobe/n_centroids) of the index
    bytes are read, test-asserted). Scoring is the asymmetric-distance
    LUT per (query, list) after ONE equi-join on centroid; top-k per
    query is a window over the scored rows. Ties break by ascending
    neighbor id. Output ``(query_id, neighbor_id, rank, score)``."""
    import os as _os

    on_s3 = _check_index_path(path)
    load_meta, _save = _index_meta_io(path)
    meta = load_meta()
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    m, ksub, dsub = codebooks.shape
    npb = min(nprobe, len(centroids))
    bc = spark.sparkContext.broadcast((centroids, codebooks))
    vec_t = dict(queries.dtypes)[vec_col]  # preserve float/double width

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, _ = bc.value
        for pdf in batches:
            v = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            order = np.argsort(-(v @ cents.T), axis=1, kind="stable")[:, :npb]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, npb),
                    "centroid": order.ravel().astype("int32"),
                    "qvec": [vv for vv in pdf[vec_col] for _ in range(npb)],
                }
            )

    # snapshot the query rows: probe rows feed BOTH the centroid-set
    # collect and the join, and two executions over a nondeterministic
    # queries frame could disagree and silently drop results. A
    # localCheckpoint (unlike .cache(), whose CacheManager entry pins
    # blocks until an explicit unpersist — repeated serving calls were
    # leaking them, r8 review finding) is freed by the ContextCleaner
    # when the plan goes out of scope, and keeps the RETURNED frame lazy.
    queries_snap = queries.select(id_col, vec_col).localCheckpoint(eager=True)
    probes = queries_snap.mapInPandas(
        probe, f"query_id long, centroid int, qvec {vec_t}"
    )
    # literal centroid set for partition pruning: O(n_centroids) driver
    # values, NEVER per-query rows — the collect is bounded by the index
    # fan-out, not the query volume
    probed = sorted(
        r["centroid"] for r in probes.select("centroid").distinct().collect()
    )
    if not probed:
        # empty queries frame: .isin() with zero literals is a Py4J
        # error, and there is nothing to score — return the empty
        # result with the contract schema (r8 review finding)
        return local_df(
            spark, [], "query_id long, neighbor_id long, rank int, score double"
        )
    if on_s3:
        # object-store pruning: fetch ONLY probed centroids' part
        # objects (bytes ∝ nprobe/n_centroids of the index)
        index = _read_index_rows_s3(spark, path, probed)
    else:
        index = (
            spark.read.parquet(_os.path.join(path, "vectors"))
            .where(F.col("centroid").isin(*[int(c) for c in probed]))
        )
    joined = probes.join(index, "centroid")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _, books = bc.value
        luts: dict = {}
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.float64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            qids = pdf["query_id"].to_numpy()
            for qid in np.unique(qids):
                sel = qids == qid
                lut = luts.get(qid)
                if lut is None:
                    qv = _normalize(
                        np.asarray(
                            pdf["qvec"][sel].iloc[0], dtype=np.float64
                        )[None, :]
                    )[0]
                    lut = np.empty((m, ksub))
                    for j in range(m):
                        lut[j] = books[j] @ qv[j * dsub : (j + 1) * dsub]
                    luts[qid] = lut
                    if len(luts) > 4096:
                        luts.clear()
                sub = codes[sel]
                out[sel] = lut[np.arange(m)[None, :], sub].sum(axis=1)
            # UNROUNDED scores out: ranking must happen on full precision
            # (the ivf_pq_topk convention) — rounding first let a truly
            # worse neighbor win a rounding tie (review finding)
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf["vec_id"],
                    "score": out,
                }
            )

    # no dedup shuffle: each corpus vector lives in exactly ONE centroid
    # partition and a query's probed centroids are distinct, so
    # (query_id, neighbor_id) is unique by construction
    scored = joined.mapInPandas(
        score, "query_id long, neighbor_id long, score double"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("score"), round_to).alias("score"),
        )
    )
    return ranked
