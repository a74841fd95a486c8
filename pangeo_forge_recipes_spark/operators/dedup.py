"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-duplicate.

Scale design notes (100 TB):

* exact dedup is a hash-groupBy — one shuffle on the fingerprint, map-side
  partial aggregation, AQE handles skewed duplicate clusters;
* MinHash signatures are computed in one Arrow-vectorized pass (numpy),
  candidate generation is a self-join on (band, band_hash) buckets — the
  join key is high-cardinality so it shuffles evenly; verification runs
  only on bucket collisions, never all pairs;
* SimHash uses the 4×16-bit band trick: Hamming-distance ≤ 3 candidates
  must collide on ≥ 1 of 4 bands → equi-join, no quadratic scan;
* embedding near-dup blocks the corpus with a broadcast normalized matrix
  (numpy GEMM per partition); at larger-than-broadcast scale swap in the
  LSH bucketing from ``similarity.py``.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textexprs import TextExprs
from ..parallel import materialize_branch_input, spread

# ---------------------------------------------------------------------------
# exact dedup (hash groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of every identical (lowercased)
    document. One shuffle on the md5 fingerprint."""
    e = TextExprs("spark", col)
    fp = F.expr(e.fingerprint_md5())
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _perm_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, (1 << 61) - 1, size=num_perm, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """64-bit FNV-1a over char n-gram shingles, fully deterministic."""
    s = text.lower().encode("utf-8", "ignore")
    if len(s) < n:
        s = s + b" " * (n - len(s))
    window = np.lib.stride_tricks.sliding_window_view(
        np.frombuffer(s, dtype=np.uint8), n
    )
    h = np.full(window.shape[0], 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(n):
        h = (h ^ window[:, j].astype(np.uint64)) * prime
    return np.unique(h)


def _batch_signatures(texts, a, b, num_perm: int, shingle_n: int) -> np.ndarray:
    """(n_docs, num_perm) signature matrix, vectorized across the whole
    batch: concatenate all shingle hashes, one big affine transform,
    per-doc minima via ``np.minimum.reduceat``. The permutation family is
    multiply-add mod 2^64 (natural uint64 wrap) — deterministic,
    universal-enough for minhash, ~3× cheaper than an explicit prime
    modulo. THE single source of truth for the engine's minhash family:
    :func:`minhash_signatures` and :func:`minhash_band_hashes` both hash
    through here, so band-key collisions correspond exactly to equality of
    the published signature bands."""
    hashes = [_shingle_hashes(t, shingle_n) for t in texts]
    counts = np.array([len(h) for h in hashes])
    flat = np.concatenate(hashes) if hashes else np.empty(0, dtype=np.uint64)
    offsets = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.intp)
    sigs = np.empty((len(texts), num_perm), dtype=np.uint64)
    # sub-chunk the permutation axis to bound the (n_shingles, P) temp
    # to ~8M elements (64 MB) — cache-friendlier than one giant block
    step = max(1, int(8e6 // max(len(flat), 1)))
    for p0 in range(0, num_perm, step):
        block = flat[:, None] * a[None, p0 : p0 + step] + b[None, p0 : p0 + step]
        sigs[:, p0 : p0 + step] = np.minimum.reduceat(block, offsets, axis=0)
    return sigs


def minhash_signatures(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Arrow-vectorized MinHash signatures: shingle → FNV64 → per-permutation
    affine min mod 2^64 — the same family :func:`minhash_band_hashes`
    buckets with, so LSH candidates correspond to signature-band equality.
    Values are the uint64 minima bit-reinterpreted as int64 (Spark has no
    unsigned type); only equality between components is meaningful."""
    a, b = _perm_params(num_perm, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = list(pdf[col])
            if not texts:
                continue
            sigs = _batch_signatures(texts, a, b, num_perm, shingle_n)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "signature": list(sigs.view(np.int64))}
            )

    return df.select(id_col, col).mapInPandas(
        compute, f"{id_col} long, signature array<long>"
    )


def minhash_band_hashes(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, band, band_hash) rows: the LSH bucketing keys, computed in the
    same vectorized pass as the signatures."""
    a, b = _perm_params(num_perm, seed)
    per_band = num_perm // bands

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime = np.uint64(0x100000001B3)
        for pdf in batches:
            texts = list(pdf[col])
            if not texts:
                continue
            sigs = _batch_signatures(texts, a, b, num_perm, shingle_n)
            n = len(texts)
            # vectorized FNV fold per band: (n_docs, bands, per_band)
            banded = sigs.reshape(n, bands, per_band)
            acc = np.full((n, bands), 0xCBF29CE484222325, dtype=np.uint64)
            for j in range(per_band):
                acc = (acc ^ banded[:, :, j]) * prime
            acc >>= np.uint64(1)  # 63-bit → signed-long safe
            ids = np.repeat(pdf[id_col].to_numpy(), bands)
            band_idx = np.tile(np.arange(bands, dtype="int32"), n)
            yield pd.DataFrame(
                {id_col: ids, "band": band_idx, "band_hash": acc.reshape(-1).astype("int64")}
            )

    # source tables often arrive as one parquet file → one input partition;
    # spread the CPU-bound signature work across the cluster
    return spread(df.select(id_col, col)).mapInPandas(
        compute, f"{id_col} long, band int, band_hash long"
    )


def minhash_lsh_candidates(
    banded: DataFrame, id_col: str = "doc_id", bucket_cap: int = 1000
) -> DataFrame:
    """Self-join on (band, band_hash) buckets — candidate pairs collide on
    at least one band.

    A degenerate bucket (one huge duplicate cluster) would make pair
    expansion O(N²) inside that bucket, so buckets larger than
    ``bucket_cap`` take a representative path instead: every member pairs
    only with the bucket's min-id representative (O(N) star), which
    preserves the bucket's connectivity for downstream verification /
    connected-component clustering while bounding candidate volume to
    ``O(bucket_cap × n)``.

    r12 restructure (guide §2.4, mirroring :func:`hamming_near_dup`'s
    r7 shape): bucket size + representative come from WINDOW functions
    over ONE (band, band_hash) exchange; small buckets expand to
    ordered pairs JVM-side (groupBy on the same keys — no new exchange
    — then per-member later-neighbor slices, O(bucket) row memory);
    over-cap buckets take the map-side star path off the same window.
    The former shape (persist + sizes groupBy + sizes⋈banded join +
    aliased self-join) shuffled the banded table three more times;
    candidate-set semantics are identical. The banded table is
    materialized once with an eager ``localCheckpoint`` before the
    window: AQE does NOT reuse the shuffle stage across the small/star
    branches (measured — tools/check_reuse.py), so without it the
    CPU-bound signature ``mapInPandas`` would run once per branch (the
    pre-r12 shape persisted it for the same reason; the checkpoint has
    no CacheManager entry to leak and its blocks free with the plan).
    100 TB caveat (r13): the default localCheckpoint trades lineage for
    locality — its blocks are non-replicated, so an executor loss fails
    the query instead of recomputing; set
    ``SPARK_GRAFT_BRANCH_MATERIALIZE=persist`` on clusters with spot
    kills / dynamic allocation (see ``parallel.materialize_branch_input``)."""
    from pyspark.sql.window import Window

    banded = materialize_branch_input(banded)
    w = Window.partitionBy("band", "band_hash")
    marked = banded.select(
        "band",
        "band_hash",
        id_col,
        F.count(F.lit(1)).over(w).alias("__n"),
        F.min(id_col).over(w).alias("__rep"),
    )
    # ids sorted ascending, so a-before-b in the array ⟺ id_a < id_b
    small = (
        marked.where((F.col("__n") > 1) & (F.col("__n") <= bucket_cap))
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
    )
    member = small.select("__ids", F.posexplode("__ids").alias("__i", "id_a"))
    quadratic = member.select(
        "id_a",
        F.explode(
            F.expr("slice(__ids, __i + 2, size(__ids) - __i - 1)")
        ).alias("id_b"),
    )
    star = (
        marked.where(
            (F.col("__n") > bucket_cap) & (F.col(id_col) != F.col("__rep"))
        )
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return quadratic.unionByName(star).distinct()


def minhash_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    shingle_n: int = 5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification on candidates only → pairs ≥ threshold.

    r13 verify restructure (guide §2.3/§3, r12 verdict #7): the exact-
    Jaccard stage previously joined the TEXT table twice (once per pair
    side) — two full passes over the corpus, with pair-expanded
    ``text_a`` additionally riding the second join's exchange. Now ONE
    semi-join pass computes each candidate doc's shingle-hash set
    (sorted unique 64-bit FNV-1a — the same ``_shingle_hashes`` the
    signatures use), bounded by the docs that appear in any candidate
    pair, and the pair table joins that small signature table twice;
    Jaccard is a JVM ``array_intersect`` size over the unique arrays —
    bit-identical to the previous numpy ``intersect1d`` computation
    (both are |A∩B| / (|A|+|B|−|A∩B|) in IEEE double). At 100 TB this
    turns 2×corpus scan+shuffle into 1×scan + O(candidate-docs) bytes.
    The tiny signature table is materialized once
    (``parallel.materialize_branch_input``) because it feeds both join
    branches and AQE does not reuse stages across branches."""
    banded = minhash_band_hashes(df, col, id_col, num_perm, bands, shingle_n)
    candidates = materialize_branch_input(minhash_lsh_candidates(banded, id_col))
    need = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs = df.select(F.col(id_col), F.col(col)).join(need, id_col, "leftsemi")

    def shingles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sh": [
                        _shingle_hashes(t, shingle_n).view(np.int64)
                        for t in pdf[col]
                    ],
                }
            )

    sig = materialize_branch_input(
        docs.mapInPandas(shingles, f"{id_col} long, sh array<long>")
    )
    joined = candidates.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - F.col("__inter")
    verified = (
        joined.withColumn("__inter", inter)
        .withColumn(
            "jaccard",
            F.when(union == 0, F.lit(1.0)).otherwise(F.col("__inter") / union),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (FNV-1a token hashes,
    ±1 bit voting), vectorized across the whole Arrow batch: all tokens
    hash in one padded-byte-matrix sweep, bit votes segment-sum per doc
    via ``np.add.reduceat`` — no per-token Python loop."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitpos = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            toks_per_doc = [
                [t.encode("utf-8", "ignore") for t in text.lower().split()]
                for text in pdf[col]
            ]
            counts = np.array([len(t) for t in toks_per_doc], dtype=np.intp)
            all_toks = [t for doc in toks_per_doc for t in doc]
            hashes = _fnv1a_batch(all_toks)
            # (n_tokens, 64) ±1 votes, segment-summed per doc
            bits = ((hashes[:, None] >> bitpos[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            votes_all = bits * 2 - 1
            sigs = np.zeros(len(pdf), dtype=np.uint64)
            nonempty = counts > 0
            if nonempty.any():
                offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
                votes = np.add.reduceat(votes_all, offsets[nonempty], axis=0)
                sigs[nonempty] = ((votes > 0).astype(np.uint64) << bitpos).sum(
                    axis=1, dtype=np.uint64
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": sigs.view(np.int64)}
            )

    return spread(df.select(id_col, col)).mapInPandas(
        compute, f"{id_col} long, simhash long"
    )


def _fnv1a_batch(toks: list) -> np.ndarray:
    """FNV-1a of every byte string in one vectorized sweep: pad tokens into
    a (n_tokens, max_len) byte matrix and fold column-by-column with a
    validity mask — max_len (~word length) vector ops total."""
    if not toks:
        return np.empty(0, dtype=np.uint64)
    lens = np.array([len(t) for t in toks], dtype=np.intp)
    maxlen = int(lens.max(initial=0))
    h = np.full(len(toks), 0xCBF29CE484222325, dtype=np.uint64)
    if maxlen == 0:
        return h
    flat = np.frombuffer(b"".join(toks), dtype=np.uint8)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    idx = starts[:, None] + np.arange(maxlen)[None, :]
    valid = np.arange(maxlen)[None, :] < lens[:, None]
    chars = flat[np.minimum(idx, len(flat) - 1)]
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        col_j = chars[:, j].astype(np.uint64)
        h = np.where(valid[:, j], (h ^ col_j) * prime, h)
    return h


def banded_signature(
    sigs: DataFrame, sig_col: str, carry_cols: list, bands: int
) -> DataFrame:
    """Explode a 64-bit signature column into ``(band, band_val)`` rows —
    the ONE banding expression shared by the batch pair engine
    (:func:`hamming_near_dup`) and the streaming dedup
    (``streaming.stateful.streaming_hamming_dedup``), so the two paths
    can never drift apart on bucket semantics."""
    if 64 % bands:
        raise ValueError(f"bands={bands} must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    return sigs.select(
        *carry_cols,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sig_col), width * i).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )


def hamming_near_dup(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucket_cap: int = 1000,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs (``id_a < id_b``, hamming ≤ ``max_hamming``) over
    ANY 64-bit signature column via banded exact-match candidates — the
    shared engine behind :func:`simhash_dedup` (text) and
    :func:`.imagehash.phash_near_dup` (images).

    Pigeonhole recall bound: distance ≤ ``bands - 1`` GUARANTEES the
    pair shares a band; callers wanting guaranteed recall at larger
    radii raise ``bands`` (64 must divide evenly). Beyond that bound
    banding is a recall-bounded candidate filter, exactly like MinHash
    banding.

    Plan shape (unchanged from the r7 simhash restructure): the
    signature scan runs ONCE — candidate pairs come from a groupBy over
    (band, band_val) whose per-bucket members expand to ordered pairs
    JVM-side, never a self-join (exchange reuse does not engage across
    aliased mapInPandas subtrees). Expansion is per MEMBER (posexplode,
    then explode of each member's later-neighbors slice), so no row
    ever holds more than one bucket's member list — O(bucket) row
    memory, O(k²) streamed output rows. Buckets larger than
    ``bucket_cap`` (mass-identical signatures) take the representative
    star path (every member pairs with the bucket's min-id member):
    candidate volume stays O(cap × n) and connectivity survives for
    downstream clustering. Bucket size + representative come from
    WINDOW functions over the banded exchange, so an over-cap bucket is
    never collected into one row — collect_list only ever sees buckets
    already known ≤ cap.

    r12 (guide §1.1 measured, §2.4): the small/star branches are TWO
    plan branches over the window, and AQE does NOT reuse the shuffle
    stage across them (measured with an accumulator: the upstream
    Python signature scan ran twice — tools/check_reuse.py). The
    signature table is therefore materialized once with an eager
    ``localCheckpoint`` — n×16-byte rows, the canonical tiny artifact
    of this pipeline — so decode+hash (image decode for pHash, WAV
    decode+FFT for audio fingerprints) run exactly once; blocks are
    freed by the ContextCleaner when the plan is garbage-collected.
    100 TB caveat (r13): localCheckpoint blocks are non-replicated —
    an executor loss fails the query instead of recomputing from
    lineage; set ``SPARK_GRAFT_BRANCH_MATERIALIZE=persist`` on clusters
    with spot kills / dynamic allocation (see
    ``parallel.materialize_branch_input``)."""
    sigs = materialize_branch_input(sigs)
    banded = banded_signature(sigs, sig_col, [id_col, sig_col], bands)
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "band_val")
    marked = banded.select(
        "band",
        "band_val",
        id_col,
        sig_col,
        F.count(F.lit(1)).over(w).alias("__n"),
        F.min(
            F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
        ).over(w).alias("rep"),
    )
    # items sorted by id (struct sort orders by the first field), so
    # a-before-b in the array ⟺ id_a < id_b
    small = (
        marked.where((F.col("__n") > 1) & (F.col("__n") <= bucket_cap))
        .groupBy("band", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
                )
            ).alias("items")
        )
    )
    member = small.select("items", F.posexplode("items").alias("__i", "a"))
    quadratic = member.select(
        F.col("a.id").alias("id_a"),
        F.col("a.sh").alias("sh_a"),
        F.explode(
            F.expr("slice(items, __i + 2, size(items) - __i - 1)")
        ).alias("b"),
    ).select("id_a", F.col("b.id").alias("id_b"), "sh_a", F.col("b.sh").alias("sh_b"))
    # star path: every over-cap-bucket member pairs with the bucket's
    # min-id representative — map-side off the window, no list ever built
    star = (
        marked.where(F.col("__n") > bucket_cap)
        .where(F.col(id_col) != F.col("rep.id"))
        .select(
            F.col("rep.id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col("rep.sh").alias("sh_a"),
            F.col(sig_col).alias("sh_b"),
        )
    )
    cand = quadratic.unionByName(star).distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def simhash_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming`` via the
    4-band exact-match trick (pigeonhole: distance ≤ 3 ⟹ one 16-bit
    band equal; larger radii lose the recall guarantee — banding is a
    candidate filter). One signature scan; see :func:`hamming_near_dup`
    for the full plan-shape notes (this is that engine applied to
    :func:`simhash_signatures`)."""
    sigs = simhash_signatures(df, col, id_col)
    return hamming_near_dup(
        sigs,
        "simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        bucket_cap=bucket_cap,
        bands=4,
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    round_to: Optional[int] = 4,
    max_broadcast_bytes: Optional[int] = None,
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold. Blocked numpy GEMM against a
    broadcast normalized corpus matrix — O(n²) flops but one scan, no
    shuffle; swap in LSH buckets (similarity.lsh_buckets) or SemDeDup
    (clustering.semantic_dedup_pairs) beyond broadcast scale.

    Broadcast-exact tier: size-gated by ``max_broadcast_bytes`` (default
    similarity.DEFAULT_BROADCAST_BOUND_BYTES) — above the bound the call
    raises naming the bucketed alternatives instead of OOMing the driver."""
    from .similarity import _guard_broadcast_bound

    spark = df.sparkSession
    _guard_broadcast_bound(
        df,
        vec_col,
        op="embedding_near_dup",
        alternative="similarity.lsh_buckets + within-bucket pairs, or "
        "clustering.semantic_dedup_pairs (kmeans + within-cluster pairs)",
        max_broadcast_bytes=max_broadcast_bytes,
    )
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((ids, mat))

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            qids = pdf[id_col].to_numpy()
            sims = q @ all_mat.T
            # batch pair emission: one boolean matrix + nonzero, no row loop
            mask = (sims >= threshold) & (all_ids[None, :] > qids[:, None])
            ri, cj = np.nonzero(mask)
            out = pd.DataFrame(
                {"id_a": qids[ri], "id_b": all_ids[cj], "cosine": sims[ri, cj]}
            )
            if round_to is not None:
                out["cosine"] = out["cosine"].round(round_to)
            yield out

    return spread(df.select(id_col, vec_col)).mapInPandas(
        block, "id_a long, id_b long, cosine double"
    )
