"""Trained quality classifier: distributed-vs-numpy parity, learning
on a separable corpus, determinism, serialization, and the filter
integration."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.operators import classifier as clf

GOOD = [
    "the committee published a detailed annual report on water quality",
    "researchers measured rainfall across the river basin for a decade",
    "the library catalog lists thousands of carefully edited volumes",
    "engineers reviewed the bridge design before construction began",
    "students presented their findings at the regional science fair",
    "the museum restored a collection of nineteenth century paintings",
    "farmers rotated crops to preserve the soil for future seasons",
    "the orchestra rehearsed the symphony every evening that month",
]
BAD = [
    "click here buy now cheap cheap cheap best price click click",
    "zzz qqq xxx win win win free free casino casino jackpot",
    "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk",
    "buy viagra buy viagra buy viagra discount discount discount",
    "!!! ??? $$$ ### @@@ %%% ^^^ &&& *** ((( ))) ~~~",
    "lorem lorem lorem lorem lorem lorem lorem lorem lorem",
    "subscribe subscribe like like like share share share now",
    "xkcd qwerty asdf zxcv uiop hjkl vbnm qwer tyui asdf",
]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(t, 1.0) for t in GOOD] + [(t, 0.0) for t in BAD]
    return spark.createDataFrame(rows, "text string, label double")


def test_hash_features_stable_and_normalized():
    i1, v1 = clf._hash_tokens("a b a", 1 << 10, bigrams=False)
    i2, v2 = clf._hash_tokens("a b a", 1 << 10, bigrams=False)
    assert np.array_equal(i1, i2) and np.array_equal(v1, v2)
    assert v1.sum() == pytest.approx(1.0)
    ii, _ = clf._hash_tokens("", 1 << 10, bigrams=True)
    assert ii.size == 0


def test_parity_with_numpy_reference_single_partition(spark, labeled):
    dim, epochs = 1 << 12, 10
    model = clf.train_quality_classifier(
        labeled.coalesce(1), dim=dim, epochs=epochs, lr=2.0
    )
    ref = clf.train_reference(
        GOOD + BAD, [1.0] * len(GOOD) + [0.0] * len(BAD), dim=dim, epochs=epochs, lr=2.0
    )
    assert model["b"] == pytest.approx(ref["b"], abs=1e-12)
    np.testing.assert_allclose(model["w"], ref["w"], atol=1e-12)
    np.testing.assert_allclose(model["loss_history"], ref["loss_history"], atol=1e-12)


def test_learns_separable_corpus_and_loss_decreases(spark, labeled):
    model = clf.train_quality_classifier(labeled, dim=1 << 12, epochs=40, lr=50.0)
    hist = model["loss_history"]
    assert hist[-1] < hist[0] * 0.5
    scored = clf.score_quality(labeled, model).collect()
    for r in scored:
        if r["label"] == 1.0:
            assert r["quality_prob"] > 0.5
        else:
            assert r["quality_prob"] < 0.5


def test_deterministic_given_fixed_partitioning(spark, labeled):
    a = clf.train_quality_classifier(labeled.coalesce(2), dim=1 << 12, epochs=5)
    b = clf.train_quality_classifier(labeled.coalesce(2), dim=1 << 12, epochs=5)
    assert np.array_equal(a["w"], b["w"]) and a["b"] == b["b"]


def test_tree_reduce_path_matches_flat(spark, labeled):
    # force the grouped tree stage with fan_in=2 over 4 partitions;
    # float64 sums are order-sensitive so compare within tolerance
    flat = clf.train_quality_classifier(
        labeled.repartition(4, "text"), dim=1 << 12, epochs=5, fan_in=64
    )
    tree = clf.train_quality_classifier(
        labeled.repartition(4, "text"), dim=1 << 12, epochs=5, fan_in=2
    )
    np.testing.assert_allclose(tree["w"], flat["w"], atol=1e-9)
    assert tree["b"] == pytest.approx(flat["b"], abs=1e-9)


def test_classifier_filter_plan_is_map_side(spark, labeled):
    model = clf.train_quality_classifier(labeled, dim=1 << 10, epochs=3)
    out = clf.classifier_filter(labeled, model, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # broadcast weights, no shuffle
    kept = out.collect()
    assert 0 < len(kept) < 16
    assert all(r["quality_prob"] >= 0.5 for r in kept)


def test_scores_on_real_corpus(spark, labeled):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).limit(100)
    model = clf.train_quality_classifier(labeled, dim=1 << 12, epochs=10)
    scored = clf.score_quality(docs, model, text_col="text")
    rows = scored.select("doc_id", "quality_prob").collect()
    assert len(rows) == 100
    assert all(0.0 <= r["quality_prob"] <= 1.0 for r in rows)


def test_md5_hash_variant_matches_duckdb():
    """hash_fn='md5' featurization must agree with DuckDB's
    md5_number_lower % dim — the identity the graded inference slot's
    oracle rests on."""
    import duckdb

    from pangeo_forge_recipes_spark.operators.classifier import _hash_tokens

    text = "the quick brown fox jumps over the lazy dog"
    idx, val = _hash_tokens(text, 256, bigrams=True, hash_fn="md5")
    toks = text.split()
    grams = toks + [a + "\x1f" + b for a, b in zip(toks, toks[1:])]
    rows = duckdb.sql(
        "SELECT CAST(md5_number_lower(g) % 256 AS INT) FROM (SELECT unnest(?) AS g)",
        params=[grams],
    ).fetchall()
    import numpy as np

    want_idx, want_c = np.unique([r[0] for r in rows], return_counts=True)
    assert list(idx) == list(want_idx)
    assert np.allclose(val, (want_c / len(grams)).astype(np.float32))


def test_hash_fn_validation():
    import pytest as _pytest

    from pangeo_forge_recipes_spark.operators.classifier import _hash_tokens

    with _pytest.raises(ValueError, match="hash_fn"):
        _hash_tokens("abc", 16, True, hash_fn="sha1")
