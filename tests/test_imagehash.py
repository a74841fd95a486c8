"""pHash image near-dup: hash invariants, the banded Hamming join vs
brute force, star-path fallback, and cluster representatives."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.operators import imagehash as ih
from pangeo_forge_recipes_spark.pngio import encode_png


def _grad(h, w, fa, fb):
    i, j = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    return ((i * fa + j * fb) % 256).astype(np.uint8)


def _ham(a, b):
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


@pytest.fixture(scope="module")
def images(spark):
    """ids 0/1: identical; 2: pixel-noise near-dup of 0; 3: one-pixel
    shift of 0; 10/11: two distinct patterns."""
    base = _grad(64, 64, 3, 5)
    rng = np.random.RandomState(7)
    noisy = np.clip(
        base.astype(int) + rng.randint(-3, 4, size=base.shape), 0, 255
    ).astype(np.uint8)
    rolled = np.roll(base, 1, axis=1)
    other = _grad(64, 64, 0, 0) + (
        np.outer(np.arange(64), np.arange(64)) % 256
    ).astype(np.uint8)
    blocks = _grad(64, 64, 32, 16)
    rows = [
        (0, bytearray(encode_png(base))),
        (1, bytearray(encode_png(base))),
        (2, bytearray(encode_png(noisy))),
        (3, bytearray(encode_png(rolled))),
        (10, bytearray(encode_png(other))),
        (11, bytearray(encode_png(blocks))),
    ]
    return spark.createDataFrame(rows, "doc_id long, media binary")


def test_phash_bits_invariants():
    a = ih.phash_bits(_grad(64, 64, 3, 5) / 255.0)
    assert a == ih.phash_bits(_grad(64, 64, 3, 5) / 255.0)
    b = ih.phash_bits((np.outer(np.arange(64), np.arange(64)) % 256) / 255.0)
    assert _ham(a, b) > 10
    # resample paths: odd shape (area) and small shape (nearest upsample)
    ih.phash_bits(_grad(33, 47, 7, 3) / 255.0)
    ih.phash_bits(np.arange(64).reshape(8, 8) / 63.0)


def test_image_phash_dataframe(spark, images):
    out = {r["doc_id"]: r["phash"] for r in ih.image_phash(images).collect()}
    assert len(out) == 6
    assert out[0] == out[1]  # identical bytes, identical hash
    assert _ham(out[0], out[2]) <= 4  # pixel noise barely moves it
    assert _ham(out[0], out[3]) <= 6  # one-pixel shift
    assert _ham(out[0], out[10]) > 10 and _ham(out[0], out[11]) > 10
    # partitioning-invariant
    out2 = {
        r["doc_id"]: r["phash"]
        for r in ih.image_phash(images.repartition(5)).collect()
    }
    assert out == out2


@pytest.mark.parametrize("materialize", ["checkpoint", "persist"])
def test_near_dup_matches_brute_force(spark, images, monkeypatch, materialize):
    """Both branch-input strategies of ``parallel.materialize_branch_input``
    (``hamming_near_dup`` feeds its signatures to two plan branches)."""
    monkeypatch.setenv("SPARK_GRAFT_BRANCH_MATERIALIZE", materialize)
    near = ih.phash_near_dup(images, max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in near.collect()}
    plan = near._jdf.queryExecution().executedPlan().toString()
    assert ("InMemoryTableScan" in plan) == (materialize == "persist"), plan
    if materialize == "persist":
        spark.catalog.clearCache()
    hashes = {r["doc_id"]: r["phash"] for r in ih.image_phash(images).collect()}
    ids = sorted(hashes)
    want = {
        (a, b): _ham(hashes[a], hashes[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _ham(hashes[a], hashes[b]) <= 6
    }
    # max_hamming=6 < bands=8 ⟹ pigeonhole guarantees full recall
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0
    assert (0, 2) in got
    assert all(10 not in p and 11 not in p for p in got)


def test_star_path_over_cap_bucket(spark):
    blob = bytearray(encode_png(_grad(32, 32, 3, 5)))
    rows = [(i, blob) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    pairs = ih.phash_near_dup(df, max_hamming=0, bucket_cap=5).collect()
    # every member pairs with the min-id representative only: O(cap·n),
    # never the 435-row quadratic expansion
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, i) for i in range(1, 30)}
    assert all(r["hamming"] == 0 for r in pairs)


def test_representatives(spark, images):
    reps = {
        r["doc_id"]: r["rep"]
        for r in ih.phash_dedup_representatives(images, max_hamming=6).collect()
    }
    assert reps[0] == reps[1] == reps[2] == reps[3] == 0
    assert reps[10] == 10 and reps[11] == 11  # singletons map to themselves


def test_simhash_regression_after_refactor(spark):
    # hamming_near_dup extraction must not change the text path
    from pangeo_forge_recipes_spark.operators import dedup

    texts = [
        (0, "the quick brown fox jumps over the lazy dog and runs far"),
        (1, "the quick brown fox jumps over the lazy dog and runs far"),
        (2, "completely different text about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = dedup.simhash_dedup(df, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
