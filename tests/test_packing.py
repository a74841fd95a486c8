"""Training-data assembly operators: packing, sharding, stratified
sampling, cross-doc n-gram dedup (operators/packing.py)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.operators.packing import (
    crossdoc_ngram_dup,
    pack_sequences,
    pack_summary,
    shard_assign,
    stratified_sample,
    with_global_order,
    write_shards,
)

from .local_frames import assert_local_scan


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(10 + i % 5)), ["en", "de", "fr"][i % 3])
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_pack_sequences_is_exact_prefix_sum(spark, docs):
    counted = docs.withColumn("token_count", F.size(F.split("text", " ")))
    packed = pack_sequences(counted, seq_len=64, num_partitions=5).toPandas()
    # independent reference: sort by (md5, id), running sum
    ref = counted.select("doc_id", "token_count").toPandas()
    ref["key"] = ref["doc_id"].map(lambda i: hashlib.md5(str(i).encode()).hexdigest())
    ref = ref.sort_values(["key", "doc_id"]).reset_index(drop=True)
    ref["offset"] = ref["token_count"].cumsum() - ref["token_count"]
    got = packed.set_index("doc_id")
    for _, r in ref.iterrows():
        assert got.loc[r["doc_id"], "token_offset"] == r["offset"]
        assert got.loc[r["doc_id"], "seq_id"] == r["offset"] // 64
    # summary partitions the corpus
    summ = pack_summary(pack_sequences(counted, seq_len=64, num_partitions=5)).toPandas()
    assert summ["n_docs"].sum() == 60
    assert summ["n_tokens"].sum() == ref["token_count"].sum()


def test_pack_sequences_partitioning_invariant(spark, docs):
    counted = docs.withColumn("token_count", F.size(F.split("text", " ")))
    a = pack_sequences(counted, seq_len=32, num_partitions=2).toPandas()
    b = pack_sequences(counted.repartition(7), seq_len=32, num_partitions=9).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert (a["token_offset"] == b["token_offset"]).all()
    assert (a["seq_id"] == b["seq_id"]).all()


def test_shard_assign_deterministic_and_uniformish(spark, docs):
    out = shard_assign(docs, n_shards=4).toPandas()
    again = shard_assign(docs.repartition(3), n_shards=4).toPandas()
    m = out.set_index("doc_id")["shard"]
    m2 = again.set_index("doc_id")["shard"]
    assert (m.sort_index() == m2.sort_index()).all()
    assert set(m.unique()) <= set(range(4))
    # no empty shard on 60 docs / 4 shards
    assert m.nunique() == 4


def test_write_shards_layout(spark, docs, tmp_path):
    path = str(tmp_path / "shards")
    write_shards(docs, path, n_shards=4)
    back = spark.read.parquet(path)
    assert back.count() == 60
    assert set(r["shard"] for r in back.select("shard").distinct().collect()) == set(range(4))
    # shard column round-trips as the assignment function
    expect = shard_assign(docs, 4).select("doc_id", "shard").toPandas().set_index("doc_id")["shard"]
    got = back.select("doc_id", "shard").toPandas().set_index("doc_id")["shard"].astype(int)
    assert (got.sort_index() == expect.sort_index()).all()


def test_stratified_sample_exact_quota(spark, docs):
    out = stratified_sample(docs, "lang", n_per_stratum=5).toPandas()
    assert (out.groupby("lang").size() == 5).all()
    # deterministic under repartitioning
    out2 = stratified_sample(docs.repartition(8), "lang", n_per_stratum=5).toPandas()
    assert set(out["doc_id"]) == set(out2["doc_id"])
    # quota larger than a stratum returns the whole stratum
    small = stratified_sample(docs.filter(F.col("doc_id") < 4), "lang", 10).toPandas()
    assert len(small) == 4


def test_crossdoc_ngram_dup(spark):
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d x y"),  # shares the 3-grams "a b c", "b c d" with doc 1
        (3, "p q r s t u"),  # unique
        (4, "zz"),  # shorter than n: zero grams, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = crossdoc_ngram_dup(df, n=3, threshold=0.4).toPandas().set_index("doc_id")
    assert out.loc[1, "n_grams"] == 4 and out.loc[1, "dup_grams"] == 2
    assert out.loc[2, "n_grams"] == 4 and out.loc[2, "dup_grams"] == 2
    assert out.loc[3, "dup_grams"] == 0 and bool(out.loc[3, "keep"])
    assert out.loc[4, "n_grams"] == 0 and bool(out.loc[4, "keep"])
    assert out.loc[1, "dup_frac"] == 0.5 and not bool(out.loc[1, "keep"])


def test_crossdoc_ngram_dup_explodes_corpus_at_most_twice(spark):
    # the gram explode is the dominant cost; doc_grams must keep at most
    # TWO consumers (gram-frequency branch + flag-join branch) — a third
    # (the old separate per-doc totals agg) compiles to a subplan shape
    # ReuseExchange can't dedupe, re-running the corpus explode
    from pangeo_forge_recipes_spark.plans import explain_string

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")], "doc_id long, text string"
    )
    import re

    plan = explain_string(crossdoc_ngram_dup(df, n=3), "formatted")
    # count physical nodes via their "(N) Generate" detail headers (the
    # formatted dump mentions each node twice: tree line + detail block)
    n_explodes = len(re.findall(r"^\(\d+\) Generate", plan, re.MULTILINE))
    assert n_explodes <= 2, plan


def test_crossdoc_ngram_dup_within_doc_repetition_not_counted(spark):
    # a gram repeated inside ONE doc is repetition, not cross-doc dup
    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z w v u")],
        "doc_id long, text string",
    )
    out = crossdoc_ngram_dup(df, n=3).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_grams"] == 0
    assert out.loc[2, "dup_grams"] == 0


def test_global_order_is_md5(spark, docs):
    out = with_global_order(docs).select("doc_id", "ord_key").toPandas()
    for _, r in out.iterrows():
        assert r["ord_key"] == hashlib.md5(str(r["doc_id"]).encode()).hexdigest()


# ---------------------------------------------------------------------------
# per-document overlapping window chunking
# ---------------------------------------------------------------------------


def _py_chunks(text, window, stride, min_tail=1):
    toks = [t for t in text.split() if t]
    if len(toks) <= window:
        return [" ".join(toks)]
    out = []
    for s in range(0, len(toks), stride):
        if s and s - stride + window + min_tail > len(toks):
            break
        out.append(" ".join(toks[s : s + window]))
    return out


def test_chunk_documents_matches_python_oracle(spark):
    from pangeo_forge_recipes_spark.operators.packing import chunk_documents

    docs = {
        1: " ".join(f"w{i}" for i in range(25)),   # 25 words
        2: " ".join(f"x{i}" for i in range(10)),   # fits in one window
        3: " ".join(f"y{i}" for i in range(16)),   # exact multiple edges
        4: "single",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    out = chunk_documents(df, window=16, stride=8)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (r["chunk_text"], r["n_words"])
    for i, text in docs.items():
        want = _py_chunks(text, 16, 8)
        chunks = [got[i][j][0] for j in range(len(got[i]))]
        assert chunks == want, (i, chunks, want)
        for j, c in enumerate(want):
            assert got[i][j][1] == len(c.split())
    # overlap property: consecutive windows share window - stride words
    c0, c1 = got[1][0][0].split(), got[1][1][0].split()
    assert c0[8:] == c1[:8]


def test_chunk_documents_plan_is_map_only(spark):
    from pangeo_forge_recipes_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        chunk_documents(df, window=2, stride=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_write_webdataset_shards_roundtrip(spark, tmp_path):
    """Tar shards follow the WebDataset convention ({key}.txt +
    {key}.json per document, md5-canonical order, normalized headers):
    contents round-trip exactly, the manifest matches the bytes on
    disk, and a rewrite is byte-identical (deterministic shards)."""
    import hashlib
    import json
    import os
    import tarfile

    from pangeo_forge_recipes_spark.operators.packing import (
        write_webdataset_shards,
    )

    rows = [(i, f"document number {i}", f"lang{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "wds")
    shards = write_webdataset_shards(df, out, n_shards=4, meta_cols=["lang"])
    assert_local_scan(shards)
    manifest = {r["shard"]: r for r in shards.collect()}
    assert sum(r["n_docs"] for r in manifest.values()) == 60
    seen = {}
    for shard, r in manifest.items():
        p = os.path.join(out, f"shard-{shard:05d}.tar")
        data = open(p, "rb").read()
        assert len(data) == r["n_bytes"]
        assert hashlib.sha256(data).hexdigest() == r["sha256"]
        with tarfile.open(p) as tar:
            names = tar.getnames()
            # pairs: {key}.txt then {key}.json, md5-canonical key order
            keys = [n[:-4] for n in names if n.endswith(".txt")]
            assert names == [
                n for k in keys for n in (f"{k}.txt", f"{k}.json")
            ]
            assert keys == sorted(
                keys, key=lambda k: hashlib.md5(k.encode()).hexdigest()
            )
            for k in keys:
                txt = tar.extractfile(f"{k}.txt").read().decode()
                meta = json.loads(tar.extractfile(f"{k}.json").read())
                assert txt == f"document number {k}"
                assert meta == {"lang": f"lang{int(k) % 3}"}
                seen[int(k)] = shard
    assert sorted(seen) == list(range(60))
    # deterministic: rewriting yields byte-identical shards
    out2 = str(tmp_path / "wds2")
    m2 = {
        r["shard"]: r["sha256"]
        for r in write_webdataset_shards(
            df.repartition(7), out2, n_shards=4, meta_cols=["lang"]
        ).collect()
    }
    assert m2 == {s: r["sha256"] for s, r in manifest.items()}


def test_remove_duplicate_spans(spark):
    """The smallest-id doc owns each shared gram: doc 1 keeps the
    boilerplate, docs 2/3 lose exactly the shared-span tokens; unique
    text and short docs survive untouched."""
    from pangeo_forge_recipes_spark.operators.packing import remove_duplicate_spans

    boiler = "all rights reserved contact us for licensing details today"  # 9 toks
    rows = [
        (1, boiler + " alpha beta gamma"),
        (2, "unique words first then " + boiler),
        (3, boiler),                      # nothing but the span -> empty
        (4, "totally distinct content with no overlap whatsoever here"),
        (5, "short doc"),                 # < n tokens: no windows, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=6).collect()}
    assert out[1]["clean_text"] == rows[0][1]          # owner keeps all
    assert out[1]["removed_tokens"] == 0
    assert out[2]["clean_text"] == "unique words first then"
    assert out[2]["removed_tokens"] == 9
    assert out[3]["clean_text"] == "" and out[3]["removed_tokens"] == 9
    assert out[4]["clean_text"] == rows[3][1]
    assert out[5]["clean_text"] == "short doc"
    assert out[5]["n_tokens"] == 2


def test_remove_duplicate_spans_partial_overlap(spark):
    """Only the covered window tokens go; a doc sharing an interior
    6-gram loses those 6 tokens plus any extension covered by further
    shared windows, not the whole document."""
    from pangeo_forge_recipes_spark.operators.packing import remove_duplicate_spans

    shared = "one two three four five six"           # exactly n=6 tokens
    rows = [
        (10, "prefix " + shared + " suffix"),
        (20, "other head words " + shared + " other tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=6).collect()}
    assert out[10]["removed_tokens"] == 0              # owner (smaller id)
    assert out[20]["clean_text"] == "other head words other tail"
    assert out[20]["removed_tokens"] == 6


def test_remove_duplicate_spans_duckdb_parity(spark):
    """Dual-engine check on the REAL documents table (sf0.01): a DuckDB
    replication of the span-removal semantics — gram identity by STRING
    (whitespace tokens make the space-join injective, and equal token
    windows <=> equal multi-arg xxhash64 chains), min-id ownership,
    token splice — must agree row-for-row with the operator. This is the
    oracle a future driver slot would use."""
    import duckdb
    import pandas as pd

    from pangeo_forge_recipes_spark.operators.packing import remove_duplicate_spans

    sf = "/root/testdata/sf0.01"
    n = 8
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = (
        remove_duplicate_spans(docs, n=n)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
occ AS (
  SELECT doc_id, CAST(gs.i - 1 AS BIGINT) AS s,
         array_to_string(t[gs.i : gs.i + {n - 1}], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {n} + 2)) AS i) gs
  WHERE len(t) >= {n}
),
own AS (SELECT gram, min(doc_id) AS owner, max(doc_id) AS mx FROM occ GROUP BY gram),
rem AS (SELECT o.doc_id, o.s FROM occ o JOIN own w USING (gram)
        WHERE w.owner <> w.mx AND o.doc_id <> w.owner),
cov AS (SELECT doc_id, list(DISTINCT s) AS starts FROM rem GROUP BY doc_id),
spliced AS (
  SELECT t.doc_id,
         list_filter(t.t, (tok, i) ->
             len(list_filter(coalesce(c.starts, []),
                             s -> s <= i - 1 AND i - 1 < s + {n})) = 0) AS kept,
         len(t.t) AS n_tokens
  FROM toks t LEFT JOIN cov c USING (doc_id)
)
SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_tokens - len(kept) AS INT) AS removed_tokens
FROM spliced ORDER BY doc_id
""").df()

    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["doc_id"].astype("int64"), want["doc_id"].astype("int64"),
        check_names=False,
    )
    assert (got["n_tokens"].to_numpy() == want["n_tokens"].to_numpy()).all()
    assert (
        got["removed_tokens"].to_numpy() == want["removed_tokens"].to_numpy()
    ).all()
    mism = got["clean_text"].to_numpy() != want["clean_text"].to_numpy()
    assert not mism.any(), got.loc[mism, "doc_id"].tolist()[:5]
    # the corpus genuinely exercises removal (boilerplate exists at sf0.01)
    assert int(got["removed_tokens"].sum()) > 0
