"""Persisted IVF×PQ index: build-once layout, partition-pruned query
scans, recall vs brute force, determinism."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.operators import similarity as sim

from .local_frames import assert_local_scan

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    meta = sim.build_ivf_pq_index(emb, path, n_centroids=16, m=8, nbits=4)
    return path, meta


def test_build_layout_and_meta(spark, emb, index):
    path, meta = index
    assert meta["n_vectors"] == emb.count()
    assert meta["n_centroids"] == 16 and meta["dim"] == 64
    parts = glob.glob(os.path.join(path, "vectors", "centroid=*"))
    assert len(parts) > 1  # real inverted-list layout on disk
    npz = np.load(os.path.join(path, "meta.npz"))
    assert npz["centroids"].shape == (16, 64)
    assert npz["codebooks"].shape == (8, 16, 8)


def test_query_scan_is_partition_pruned(spark, emb, index):
    path, _ = index
    queries = emb.limit(5)
    out = sim.query_ivf_pq_index(spark, path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry the literal centroid IN-filter as a
    # PARTITION filter (file-level pruning), not a post-scan predicate
    assert "PartitionFilters: [centroid" in plan.replace("#", " #").replace(
        "centroid #", "centroid#"
    ) or "centroid IN" in plan, plan[:4000]
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {
        r["vec_id"] for r in queries.collect()
    }
    for r in rows:
        assert 1 <= r["rank"] <= 3


def test_full_probe_matches_numpy_pq_oracle(spark, emb, index):
    """At nprobe = n_centroids every list is scanned, so the result must
    EXACTLY equal a numpy replication of the same PQ model: encode the
    corpus with the SAVED codebooks, LUT-score each query, take top-3
    with the same desc-score/asc-id tie order. (Recall vs exact cosine
    is not the contract on near-orthogonal synthetic embeddings — the
    PQ reconstruction is; the half-probe test below covers pruning.)"""
    path, _ = index
    queries = emb.limit(20)
    got = {}
    for r in sim.query_ivf_pq_index(spark, path, queries, k=3, nprobe=16).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"])
        )
    npz = np.load(os.path.join(path, "meta.npz"))
    books = npz["codebooks"]
    m, ksub, dsub = books.shape
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    codes = np.empty((len(ids), m), dtype=np.int64)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        d2 = (
            np.sum(sub**2, axis=1, keepdims=True)
            - 2 * (sub @ books[j].T)
            + np.sum(books[j] ** 2, axis=1)[None, :]
        )
        codes[:, j] = np.argmin(d2, axis=1)
    for q in queries.collect():
        qv = np.asarray(q["embedding"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        lut = np.stack(
            [books[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        # rank on UNROUNDED scores (the engine convention), round after
        raw = lut[np.arange(m)[None, :], codes].sum(axis=1)
        order = sorted(zip(-raw, ids))[:3]
        want = [
            (rank + 1, int(nid), float(np.round(-negs, 4)))
            for rank, (negs, nid) in enumerate(order)
        ]
        assert got[q["vec_id"]] == want, (q["vec_id"], got[q["vec_id"]], want)


def test_query_deterministic(spark, emb, index):
    path, _ = index
    q = emb.limit(8)
    a = sorted(map(tuple, sim.query_ivf_pq_index(spark, path, q, k=2).collect()))
    b = sorted(map(tuple, sim.query_ivf_pq_index(spark, path, q, k=2).collect()))
    assert a == b


def test_half_probe_reads_fewer_lists(spark, emb, index):
    path, _ = index
    one_q = emb.limit(1)
    out = sim.query_ivf_pq_index(spark, path, one_q, k=2, nprobe=2)
    # one query probing 2 of 16 lists must not score the whole corpus
    n_scored = out.count()
    assert n_scored <= 2  # k=2 rows back
    full = spark.read.parquet(os.path.join(path, "vectors"))
    probed = sim.query_ivf_pq_index(spark, path, one_q, k=10**6, nprobe=2)
    assert probed.count() < full.count()


def test_empty_queries_short_circuit(spark, emb, index):
    """r8 advisor finding: zero query rows made the centroid .isin()
    raise a Py4J error; now it returns the empty contract frame."""
    path, _ = index
    empty = emb.where("vec_id < 0")
    out = sim.query_ivf_pq_index(spark, path, empty, k=3, nprobe=2)
    assert_local_scan(out)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "score",
    ]


def test_repeated_queries_leave_no_cached_plans(spark, emb, index):
    """r8 advisor finding: each serving call leaked one CacheManager
    entry (probes.cache() never unpersisted). The probe snapshot now
    rides a localCheckpoint, which the ContextCleaner frees. Counts only
    the entries these calls add: earlier tests may leave their own."""
    path, _ = index
    cache = spark._jsparkSession.sharedState().cacheManager()
    q = emb.limit(3)
    before = cache.numCachedEntries()
    for _ in range(3):
        sim.query_ivf_pq_index(spark, path, q, k=2, nprobe=2).collect()
    assert cache.numCachedEntries() == before
