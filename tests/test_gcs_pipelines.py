"""End-to-end pipelines against the fake GCS endpoint — the ``gs://``
OAuth twin of ``test_s3_pipelines.py``/``test_azure_pipelines.py`` (the
reference reaches GCS through fsspec/gcsfs, reference
``storage.py:16,85-86``; this engine exchanges a service-account JWT
for a Bearer token and speaks the XML API natively). The endpoint
verifies the RS256 assertion against the OpenSSL-generated public key
and every data-plane request against its own issued tokens."""

from __future__ import annotations

import json
import os

import pytest

from pangeo_forge_recipes_spark import (
    assert_equal,
    pattern_from_file_sequence,
    store_to_zarr,
    write_combined_reference,
)
from pangeo_forge_recipes_spark.gcsio import GCSStore, configure_spark_gcs
from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
from pangeo_forge_recipes_spark.storage import CacheFSSpecTarget, FSSpecTarget

from .data_generation import make_ds, split_ds_into_files
from .fake_gcs import FakeGCS


@pytest.fixture(scope="module")
def gcs(request, spark):
    srv = FakeGCS()
    configure_spark_gcs(spark, **srv.client_kwargs())
    sa_path = os.environ["GOOGLE_APPLICATION_CREDENTIALS"]

    def fin():
        # credentials must not leak into later test modules (the gs://
        # HMAC-interop tests dispatch on their ABSENCE — r10 env lesson)
        for var in (
            "GOOGLE_APPLICATION_CREDENTIALS",
            "GOOGLE_APPLICATION_CREDENTIALS_JSON",
            "GS_ENDPOINT_URL",
        ):
            os.environ.pop(var, None)
            spark.sparkContext.environment.pop(var, None)
        if os.path.exists(sa_path):
            os.unlink(sa_path)
        srv.stop()

    request.addfinalizer(fin)
    return srv


def test_store_to_zarr_on_gcs(spark, tmp_path, gcs):
    """The flagship round-trip with the TARGET on GCS: executors
    region-write chunk objects straight to gs:// with Bearer tokens
    exchanged from the service-account key."""
    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, "gs://pipelines/targets", "store.zarr",
        target_chunks={"time": 3},
    )
    assert result.path.startswith("gs://pipelines/targets")
    assert_equal(result.open(), ds)
    keys = {k for (b, k) in gcs.objects if b == "pipelines"}
    assert "targets/store.zarr/zarr.json" in keys
    assert any("/c/" in k for k in keys)
    assert gcs.token_grants >= 1


def test_store_to_zarr_gcs_sources(spark, tmp_path, gcs):
    """Sources ALSO on GCS: the opener pulls input bytes from gs://
    urls in the FilePattern while writing locally."""
    ds = make_ds(nt=4)
    local = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    store = GCSStore("gs://sources", **gcs.client_kwargs())
    urls = []
    for p in local:
        with open(p, "rb") as f:
            store.put(os.path.basename(p), f.read())
        urls.append(f"gs://sources/{os.path.basename(p)}")
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "from_gs.zarr",
        target_chunks={"time": 2},
    )
    assert_equal(result.open(), ds)


def test_input_cache_on_gcs(spark, tmp_path, gcs):
    """CacheFSSpecTarget with a gs:// root: first call uploads, second
    call size-skips (no second PUT of the object)."""
    src = tmp_path / "src.bin"
    src.write_bytes(b"x" * 1000)
    cache = CacheFSSpecTarget.from_url("gs://cachebkt/cache")
    cache.fsspec_kwargs.update(gcs.client_kwargs())
    cache.cache_file(str(src), None)
    assert cache.exists(str(src))
    assert cache.size(str(src)) == 1000
    puts_before = sum(
        1 for m, b, k, q in gcs.requests if m == "PUT" and b == "cachebkt"
    )
    cache.cache_file(str(src), None)  # size matches — skip
    puts_after = sum(
        1 for m, b, k, q in gcs.requests if m == "PUT" and b == "cachebkt"
    )
    assert puts_after == puts_before
    from pangeo_forge_recipes_spark.storage import open_binary

    url = "gs://cachebkt/cache/" + cache._rel(str(src))
    with open_binary(url, **gcs.client_kwargs()) as f:
        assert f.read() == b"x" * 1000


def test_kerchunk_reference_on_gcs(spark, tmp_path, gcs):
    """write_combined_reference with the reference FILE on gs:// and
    chunk refs pointing at gs:// SOURCE objects — fully-cloud virtual
    store, reads served by ranged GETs under Bearer auth."""
    from pangeo_forge_recipes_spark.netcdf3 import write_netcdf3

    ds = make_ds(nt=4)
    store = GCSStore("gs://refsrc", **gcs.client_kwargs())
    urls = []
    for i, start in enumerate(range(0, 4, 2)):
        p = str(tmp_path / f"nc_{i}.nc")
        write_netcdf3(p, ds.isel(time=slice(start, start + 2)))
        with open(p, "rb") as f:
            store.put(os.path.basename(p), f.read())
        urls.append(f"gs://refsrc/{os.path.basename(p)}")
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="netcdf3"
    )
    refpath = write_combined_reference(
        spark, pattern, "gs://refout/here", "ref"
    )
    assert refpath.startswith("gs://refout/here")
    back = open_reference_dataset(refpath)
    assert_equal(back, ds)
    raw = json.loads(
        GCSStore("gs://refout", **gcs.client_kwargs()).get(
            "here/ref/reference.json"
        )
    )
    chunk_refs = [v for v in raw["refs"].values() if isinstance(v, list)]
    assert chunk_refs and all(
        v[0].startswith("gs://refsrc/") for v in chunk_refs
    )


def test_tfrecord_shards_on_gcs(spark, gcs):
    """TFRecord shard write -> recursive '**' glob -> read on gs://."""
    from pangeo_forge_recipes_spark.sources import tfrecord as tfr
    from pangeo_forge_recipes_spark.storage import list_shard_urls

    df = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(40)], "doc_id long, text string"
    )
    out = "gs://shards/tfr"
    manifest = tfr.write_tfrecord_shards(df, out, n_shards=4).collect()
    assert len(manifest) == 4
    back = tfr.read_tfrecord(
        spark, out, {"doc_id": "int64", "text": "string"}
    )
    rows = back.collect()
    assert {r["doc_id"] for r in rows} == set(range(40))
    urls = list_shard_urls(
        "gs://shards/**/*.tfrecord", (".tfrecord",),
        open_kwargs=gcs.client_kwargs(),
    )
    assert len(urls) == 4 and all(u.startswith("gs://shards/tfr/") for u in urls)


def test_fsspec_target_surface_on_gcs(gcs):
    t = FSSpecTarget.from_url("gs://tgt/root")
    t.fsspec_kwargs.update(gcs.client_kwargs())
    assert t.get_fsspec_remote_protocol() == "gs"
    with t.open("sub/obj.bin", mode="wb") as f:
        f.write(b"abc")
    assert t.exists("sub/obj.bin") and t.size("sub/obj.bin") == 3
    with t.open("sub/obj.bin") as f:
        assert f.read() == b"abc"
    t.makedir("whatever")  # object stores: no-op, must not raise
    (t / "sub").rm("obj.bin")
    assert not t.exists("sub/obj.bin")


def test_verify_zarr_on_gcs(spark, tmp_path, gcs):
    """The distributed integrity scrub against a gs:// store url."""
    from pangeo_forge_recipes_spark.dsio import verify_zarr

    ds = make_ds(nt=4)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, "gs://verifybkt/t", "v.zarr",
        target_chunks={"time": 2},
    )
    report = verify_zarr(spark, result.path).collect()
    assert report and all(r["ok"] for r in report)
    assert any(r["exists"] for r in report)


def test_sharded_and_v2_stores_on_gcs(spark, tmp_path, gcs):
    """Two write layouts through GCS: zarr v3 sharding_indexed (whole
    shards stream via put_parts -> S3-compatible multipart when large)
    and the classic v2 layout — both must round-trip."""
    ds = make_ds(nt=8)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=4)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=4, file_type="npz"
    )
    sharded = store_to_zarr(
        spark, pattern, "gs://layouts/a", "sharded.zarr",
        target_chunks={"time": 2}, target_shards={"time": 4},
    )
    assert_equal(sharded.open(), ds)
    keys = {k for (b, k) in gcs.objects if b == "layouts"}
    assert any("sharded.zarr/foo/c/" in k for k in keys)
    v2 = store_to_zarr(
        spark, pattern, "gs://layouts/b", "classic.zarr",
        target_chunks={"time": 4}, zarr_format=2,
    )
    assert_equal(v2.open(), ds)
    assert ("layouts", "b/classic.zarr/.zgroup") in gcs.objects


def test_stream_append_to_gcs_store(spark, tmp_path, gcs):
    """Micro-batch append with the TARGET on gs://: batch 1 bootstraps,
    batch 2 appends along time."""
    from pangeo_forge_recipes_spark.dsio import open_zarr_group, write_npz
    from pangeo_forge_recipes_spark.streaming.append import (
        stream_append_to_zarr,
    )

    ds = make_ds(nt=4)
    paths = []
    for i in range(2):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    manifest_dir = str(tmp_path / "manifests")
    os.makedirs(manifest_dir)
    ckpt = str(tmp_path / "ckpt")

    def run_batch(batch_idx, file_idx):
        lines = "".join(f"{2 * i},{paths[i]}\n" for i in file_idx)
        with open(os.path.join(manifest_dir, f"b{batch_idx}.txt"), "w") as f:
            f.write(lines)
        q = stream_append_to_zarr(
            spark, manifest_dir, "gs://streambkt/t", "s.zarr", "time",
            {"time": 2}, checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_batch(0, [0])
    run_batch(1, [1])
    rt = open_zarr_group("gs://streambkt/t/s.zarr")
    assert rt.sizes["time"] == 4
    assert_equal(rt, ds, check_attrs=False)


def test_bake_feedstock_to_gcs(spark, gcs):
    """The deployment runner with a gs:// target root — credentials
    from the exported GOOGLE_APPLICATION_CREDENTIALS convention."""
    from pangeo_forge_recipes_spark.runner import bake

    fs = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "feedstock",
    )
    config = {
        "TargetStorage": {"root_path": "gs://bakery/target"},
        "InputCacheStorage": {"root_path": "gs://bakery/cache"},
    }
    result = bake(
        fs, config=config, recipe_id="daily-zarr", prune=True, spark=spark
    )
    assert result.path == "gs://bakery/target/daily.zarr"
    ds = result.open()
    assert ds.sizes["time"] == 2
    assert any(k.startswith("cache/") for (b, k) in gcs.objects if b == "bakery")


def test_store_to_pyramid_on_gcs(spark, tmp_path, gcs):
    """Multiscale pyramid entirely on gs://: level 0 through the
    pipeline, level 1 a distributed coarsen of the level-0 objects."""
    import numpy as np

    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
    from pangeo_forge_recipes_spark.pyramid import store_to_pyramid

    nt, nlat, nlon = 2, 4, 6
    foo = (
        1000.0 * np.arange(nt)[:, None, None]
        + 10 * np.arange(nlat)[None, :, None]
        + np.arange(nlon)[None, None, :]
    )
    ds = NDDataset(
        {"foo": Variable(("time", "lat", "lon"), foo)},
        {
            "time": Variable(("time",), np.arange(nt, dtype="int64")),
            "lat": Variable(("lat",), np.arange(nlat, dtype="float64")),
            "lon": Variable(("lon",), np.arange(nlon, dtype="float64")),
        },
    )
    p = str(tmp_path / "pyr_src.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence(
        [p], "time", nitems_per_file=nt, file_type="npz"
    )
    result = store_to_pyramid(
        spark, pattern, "gs://pyrbkt/t", "p.zarr", levels=2,
        target_chunks={"time": 2, "lat": 2, "lon": 2},
    )
    l1 = result.open(1)
    want = (
        1000.0 * np.arange(nt)[:, None, None]
        + 10 * (2 * np.arange(2) + 0.5)[None, :, None]
        + (2 * np.arange(3) + 0.5)[None, None, :]
    )
    np.testing.assert_allclose(l1["foo"].data, want)
    keys = {k for (b, k) in gcs.objects if b == "pyrbkt"}
    assert "t/p.zarr/zarr.json" in keys


def test_ivf_pq_index_serving_on_gcs(spark, gcs):
    """IVF×PQ persisted-index serving on gs:// (r11 verdict ask #6 —
    the GCS twin of the bench's ivf_pq_s3_serving section): build +
    query through GCSStore under Bearer-token auth, and prove
    the partition-pruned read path from the endpoint's own request log
    — one query with nprobe=4 of 16 lists must GET only its probed
    lists' part objects, so probe bytes ≈ nprobe/nlists of the index."""
    import numpy as np

    from pangeo_forge_recipes_spark.operators.similarity import (
        build_ivf_pq_index,
        query_ivf_pq_index,
    )

    rng = np.random.default_rng(12)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=16)]) for i in range(400)
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = "gs://annidx/idx"

    meta = build_ivf_pq_index(embs, path, n_centroids=16, m=8, nbits=4)
    assert meta["n_vectors"] == 400

    q = embs.orderBy("vec_id").limit(3).persist()
    q.count()
    with gcs.lock:
        gcs.requests.clear()
    out = query_ivf_pq_index(spark, path, q, k=3, nprobe=4)
    got = out.collect()
    assert len(got) == 9  # 3 queries x k=3
    assert {r["rank"] for r in got} == {1, 2, 3}
    with gcs.lock:
        index_bytes = sum(
            len(v)
            for (b, k), v in gcs.objects.items()
            if b == "annidx" and "centroid=" in k
        )
        fetched_keys = {
            k
            for m, b, k, qq in gcs.requests
            if m == "GET" and b == "annidx" and "centroid=" in k
        }
        fetched_bytes = sum(
            len(gcs.objects[("annidx", k)])
            for k in fetched_keys
            if ("annidx", k) in gcs.objects
        )
    lists = {k.split("centroid=")[1].split("/")[0] for k in fetched_keys}
    # 3 queries x nprobe=4: at most 12 distinct lists, and bytes read
    # stay proportional to probed lists, never the whole index
    assert 0 < len(lists) <= 12
    assert 0 < fetched_bytes < index_bytes
    assert fetched_bytes / index_bytes <= (len(lists) / 16) * 1.5 + 0.05
    q.unpersist()
