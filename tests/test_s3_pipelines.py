"""End-to-end pipelines against the fake S3 endpoint — the engine
analog of the reference's MinIO integration suite
(``/root/reference/tests/test_integration.py:23-47``): Zarr stores,
kerchunk references, input caches, and training shards all living on
``s3://`` urls, written from executor tasks through the native SigV4
client."""

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
from pangeo_forge_recipes_spark.dsio import write_npz
from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
from pangeo_forge_recipes_spark.s3io import S3Store, configure_spark_s3
from pangeo_forge_recipes_spark.storage import CacheFSSpecTarget, FSSpecTarget

from .data_generation import make_ds, split_ds_into_files
from .fake_s3 import FakeS3
from .local_frames import assert_local_scan


@pytest.fixture(scope="module")
def s3(request, spark):
    srv = FakeS3()
    configure_spark_s3(spark, **srv.client_kwargs())
    request.addfinalizer(srv.stop)
    return srv


def test_store_to_zarr_on_s3(spark, tmp_path, s3):
    """The flagship round-trip with the TARGET on the object store:
    executors region-write chunk objects straight to s3 keys."""
    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, "s3://pipelines/targets", "store.zarr",
        target_chunks={"time": 3},
    )
    assert result.path.startswith("s3://pipelines/targets")
    assert_equal(result.open(), ds)
    # physical layout: zarr.json per node + chunk objects under c/
    keys = {k for (b, k) in s3.objects if b == "pipelines"}
    assert "targets/store.zarr/zarr.json" in keys
    assert any("/c/" in k for k in keys)


def test_store_to_zarr_s3_sources(spark, tmp_path, s3):
    """Sources ALSO on s3: the opener pulls input bytes from the object
    store (``s3://`` urls in the FilePattern) while writing locally."""
    ds = make_ds(nt=4)
    local = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    store = S3Store("s3://sources", **s3.client_kwargs())
    urls = []
    for p in local:
        with open(p, "rb") as f:
            store.put(os.path.basename(p), f.read())
        urls.append(f"s3://sources/{os.path.basename(p)}")
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "from_s3.zarr",
        target_chunks={"time": 2},
    )
    assert_equal(result.open(), ds)


def test_input_cache_on_s3(spark, tmp_path, s3):
    """CacheFSSpecTarget with an s3 root: first call uploads, second
    call size-skips (no second PUT of the object)."""
    src = tmp_path / "src.bin"
    src.write_bytes(b"x" * 1000)
    cache = CacheFSSpecTarget.from_url("s3://cachebkt/cache")
    cache.fsspec_kwargs.update(s3.client_kwargs())
    cache.cache_file(str(src), None)
    assert cache.exists(str(src))
    assert cache.size(str(src)) == 1000
    puts_before = sum(
        1 for m, b, k, q in s3.requests if m == "PUT" and b == "cachebkt"
    )
    cache.cache_file(str(src), None)  # size matches — skip
    puts_after = sum(
        1 for m, b, k, q in s3.requests if m == "PUT" and b == "cachebkt"
    )
    assert puts_after == puts_before
    # cached object is readable through the generic url opener
    from pangeo_forge_recipes_spark.storage import open_binary

    url = "s3://cachebkt/cache/" + cache._rel(str(src))
    with open_binary(url, **s3.client_kwargs()) as f:
        assert f.read() == b"x" * 1000


def test_kerchunk_reference_on_s3(spark, tmp_path, s3):
    """write_combined_reference with the reference FILE on s3 and chunk
    refs pointing at s3 SOURCE objects — the fully-cloud virtual store."""
    from pangeo_forge_recipes_spark.netcdf3 import write_netcdf3

    ds = make_ds(nt=4)
    store = S3Store("s3://refsrc", **s3.client_kwargs())
    urls = []
    for i, start in enumerate(range(0, 4, 2)):
        p = str(tmp_path / f"nc_{i}.nc")
        write_netcdf3(p, ds.isel(time=slice(start, start + 2)))
        with open(p, "rb") as f:
            store.put(os.path.basename(p), f.read())
        urls.append(f"s3://refsrc/{os.path.basename(p)}")
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="netcdf3"
    )
    refpath = write_combined_reference(
        spark, pattern, "s3://refout/here", "ref"
    )
    assert refpath.startswith("s3://refout/here")
    back = open_reference_dataset(refpath)
    assert_equal(back, ds)
    # the json knows its chunks by s3 url — reads were ranged GETs
    raw = json.loads(
        S3Store("s3://refout", **s3.client_kwargs()).get("here/ref/reference.json")
    )
    chunk_refs = [v for v in raw["refs"].values() if isinstance(v, list)]
    assert chunk_refs and all(v[0].startswith("s3://refsrc/") for v in chunk_refs)


def test_tfrecord_shards_on_s3(spark, s3):
    """TFRecord shard write → list → read entirely on the object store."""
    from pangeo_forge_recipes_spark.sources import tfrecord as tfr

    df = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(40)], "doc_id long, text string"
    )
    out = "s3://shards/tfr"
    manifest = tfr.write_tfrecord_shards(df, out, n_shards=4).collect()
    assert len(manifest) == 4
    back = tfr.read_tfrecord(
        spark, out, {"doc_id": "int64", "text": "string"}
    )
    rows = back.collect()
    assert {r["doc_id"] for r in rows} == set(range(40))
    assert {r["shard"] for r in rows} == {
        f"shards/tfr/shard-{i:05d}.tfrecord" for i in range(4)
    }


def test_webdataset_shards_on_s3(spark, s3):
    """WebDataset tar shards written by executors to s3, read back."""
    from pangeo_forge_recipes_spark.operators.packing import (
        write_webdataset_shards,
    )
    from pangeo_forge_recipes_spark.sources.webdataset import read_webdataset

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(30)], "doc_id long, text string"
    )
    out = "s3://shards/wds"
    manifest = write_webdataset_shards(df, out, n_shards=3).collect()
    assert len(manifest) == 3
    back = read_webdataset(spark, out).collect()
    assert len(back) == 30


def test_fsspec_target_surface_on_s3(s3):
    t = FSSpecTarget.from_url("s3://tgt/root")
    t.fsspec_kwargs.update(s3.client_kwargs())
    assert t.get_fsspec_remote_protocol() == "s3"
    with t.open("sub/obj.bin", mode="wb") as f:
        f.write(b"abc")
    assert t.exists("sub/obj.bin") and t.size("sub/obj.bin") == 3
    with t.open("sub/obj.bin") as f:
        assert f.read() == b"abc"
    t.makedir("whatever")  # object stores: no-op, must not raise
    (t / "sub").rm("obj.bin")
    assert not t.exists("sub/obj.bin")
    # recursive rm sweeps a prefix but not its sibling
    with t.open("a/x", mode="wb") as f:
        f.write(b"1")
    with t.open("ab/y", mode="wb") as f:
        f.write(b"2")
    t.rm("a", recursive=True)
    assert not t.exists("a/x") and t.exists("ab/y")


def test_ivf_pq_index_on_s3(spark, s3):
    """The serving-tier index on the object store: build → query
    entirely over s3, results identical to the local artifact,
    and the query's GETs bounded to the probed centroids' objects."""
    import pytest as _pytest

    from pangeo_forge_recipes_spark.operators import similarity as sim

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    lo = emb.where("vec_id < 400")

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        local = os.path.join(td, "idx")
        meta_l = sim.build_ivf_pq_index(lo, local, n_centroids=16, m=8, nbits=4)
        meta_s = sim.build_ivf_pq_index(
            lo, "s3://annidx/idx", n_centroids=16, m=8, nbits=4
        )
        assert meta_s == meta_l
        q = emb.limit(8)
        want = sim.query_ivf_pq_index(spark, local, q, k=3, nprobe=4)
        got = sim.query_ivf_pq_index(spark, "s3://annidx/idx", q, k=3, nprobe=4)
        rows_w = sorted(map(tuple, want.collect()))
        rows_g = sorted(map(tuple, got.collect()))
        assert rows_g == rows_w and rows_g
        # probe-bytes bound: ONE query probing 2 of 16 lists must only
        # GET part objects under those 2 centroid prefixes
        s3.requests.clear()
        sim.query_ivf_pq_index(
            spark, "s3://annidx/idx", emb.limit(1), k=2, nprobe=2
        ).collect()
        fetched = {
            k.split("centroid=")[1].split("/")[0]
            for m, b, k, qq in s3.requests
            if b == "annidx" and m == "GET" and "centroid=" in k
            and "list-type" not in qq
        }
        assert len(fetched) <= 2
        # the probed part keys, and the empty frame when none match
        for probed in (range(16), []):
            assert_local_scan(sim._read_index_rows_s3(spark, "s3://annidx/idx", probed))
    # unknown scheme still raises loudly (gs:// became VALID in r9)
    with _pytest.raises(NotImplementedError):
        sim.build_ivf_pq_index(lo, "hdfs://nope/idx")


def test_s3_glob_shard_selection(spark, s3):
    """Object-store globs select shard subsets like local globs do."""
    from pangeo_forge_recipes_spark.sources import tfrecord as tfr

    df = spark.createDataFrame(
        [(i, f"g-{i}") for i in range(20)], "doc_id long, text string"
    )
    tfr.write_tfrecord_shards(df, "s3://globbkt/run1", n_shards=4).collect()
    rows = tfr.read_tfrecord(
        spark,
        "s3://globbkt/run1/shard-0000[01].tfrecord",
        {"doc_id": "int64"},
    ).collect()
    shards = {r["shard"].rsplit("/", 1)[-1] for r in rows}
    assert shards == {"shard-00000.tfrecord", "shard-00001.tfrecord"}
    all_rows = tfr.read_tfrecord(
        spark, "s3://globbkt/run1/*.tfrecord", {"doc_id": "int64"}
    ).collect()
    assert {r["doc_id"] for r in all_rows} == set(range(20))


def test_sharded_and_v2_stores_on_s3(spark, tmp_path, s3):
    """Two write layouts through the object store: zarr v3
    sharding_indexed (whole shards stream via put_parts -> multipart
    when large) and the classic v2 layout — both must round-trip."""
    ds = make_ds(nt=8)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=4)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=4, file_type="npz"
    )
    sharded = store_to_zarr(
        spark, pattern, "s3://layouts/a", "sharded.zarr",
        target_chunks={"time": 2}, target_shards={"time": 4},
    )
    assert_equal(sharded.open(), ds)
    keys = {k for (b, k) in s3.objects if b == "layouts"}
    assert any("sharded.zarr/foo/c/" in k for k in keys)
    v2 = store_to_zarr(
        spark, pattern, "s3://layouts/b", "classic.zarr",
        target_chunks={"time": 4}, zarr_format=2,
    )
    assert_equal(v2.open(), ds)
    assert ("layouts", "b/classic.zarr/.zgroup") in s3.objects


def test_stream_append_to_s3_store(spark, tmp_path, s3):
    """Micro-batch append with the TARGET on the object store: batch 1
    bootstraps, batch 2 appends along time (the existence probe must
    dispatch on scheme — a LocalStore probe mis-answered and forced
    bootstrap mode every batch, r9 self-review). The streaming
    checkpoint stays on a Spark-accessible local path."""
    from pangeo_forge_recipes_spark.dsio import open_zarr_group
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

    with pytest.raises(ValueError, match="checkpoint_dir"):
        stream_append_to_zarr(
            spark, manifest_dir, "s3://streambkt/t", "s.zarr", "time",
            {"time": 2},
        )

    def run_batch(batch_idx, file_idx):
        lines = "".join(f"{2 * i},{paths[i]}\n" for i in file_idx)
        with open(os.path.join(manifest_dir, f"b{batch_idx}.txt"), "w") as f:
            f.write(lines)
        q = stream_append_to_zarr(
            spark, manifest_dir, "s3://streambkt/t", "s.zarr", "time",
            {"time": 2}, checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    run_batch(0, [0])
    run_batch(1, [1])
    rt = open_zarr_group("s3://streambkt/t/s.zarr")
    assert rt.sizes["time"] == 4
    assert_equal(rt, ds, check_attrs=False)


def test_verify_zarr_on_s3(spark, tmp_path, s3):
    """The distributed integrity scrub runs against an object-store
    url (tasks re-resolve the store by scheme — verify_zarr was
    local-path-only before r9)."""
    from pangeo_forge_recipes_spark.dsio import verify_zarr

    ds = make_ds(nt=4)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, "s3://verifybkt/t", "v.zarr",
        target_chunks={"time": 2},
    )
    report = verify_zarr(spark, result.path).collect()
    assert report and all(r["ok"] for r in report)
    assert any(r["exists"] for r in report)


def test_pattern_from_glob_on_s3(spark, tmp_path, s3):
    """pattern_from_glob accepts object-store globs with natural
    ordering (f2 before f10)."""
    from pangeo_forge_recipes_spark import store_to_zarr
    from pangeo_forge_recipes_spark.patterns import pattern_from_glob

    ds = make_ds(nt=4)
    store = S3Store("s3://globsrc", **s3.client_kwargs())
    # upload out of lexicographic order: f2 must still precede f10
    for i, start in [(2, 0), (10, 2)]:
        p = str(tmp_path / f"gf{i}.npz")
        write_npz(p, ds.isel(time=slice(start, start + 2)))
        with open(p, "rb") as f:
            store.put(f"arc/f{i}.npz", f.read())
    pattern = pattern_from_glob(
        "s3://globsrc/arc/f*.npz", "time", nitems_per_file=2,
        file_type="npz",
    )
    urls = [u for _idx, u in pattern.items()]
    assert urls == ["s3://globsrc/arc/f2.npz", "s3://globsrc/arc/f10.npz"]
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "g.zarr",
        target_chunks={"time": 2},
    )
    assert_equal(result.open(), ds)


def test_store_to_pyramid_on_s3(spark, tmp_path, s3):
    """Multiscale pyramid entirely on s3:// (r10 VERDICT ask #7):
    level 0 through the pipeline, level 1 a distributed coarsen of the
    level-0 objects; level metadata + values verified from the store."""
    import numpy as np

    from pangeo_forge_recipes_spark.pyramid import store_to_pyramid

    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

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
        spark, pattern, "s3://pyrbkt/t", "p.zarr", levels=2,
        target_chunks={"time": 2, "lat": 2, "lon": 2},
    )
    # level-1 values: the normative 2x2 window mean over level 0
    l1 = result.open(1)
    want = (
        1000.0 * np.arange(nt)[:, None, None]
        + 10 * (2 * np.arange(2) + 0.5)[None, :, None]
        + (2 * np.arange(3) + 0.5)[None, None, :]
    )
    np.testing.assert_allclose(l1["foo"].data, want)
    # the multiscales root doc + both level groups live on s3
    keys = {k for (b, k) in s3.objects if b == "pyrbkt"}
    assert "t/p.zarr/zarr.json" in keys
    assert "t/p.zarr/0/zarr.json" in keys and "t/p.zarr/1/zarr.json" in keys
    root = json.loads(s3.objects[("pyrbkt", "t/p.zarr/zarr.json")])
    levels = root["attributes"]["multiscales"][0]["datasets"]
    assert [d["path"] for d in levels] == ["0", "1"]
    # every level-1 chunk object exists under the store (no local spill)
    assert any(k.startswith("t/p.zarr/1/foo/c/") for k in keys)


def test_spill_shuffle_scratch_on_s3(spark, tmp_path, s3):
    """THE shuffle's spill mode with TARGET AND SCRATCH on the object
    store — the deployment the mode exists for (scratch rides the same
    unbounded storage as the target; the local A/B is structurally
    unable to show its win). Executors decode once, spill raw pieces
    to s3://.../<store>.spill/, exchange metadata only, range-read on
    combine; the scratch prefix must be swept after success."""
    import numpy as np

    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    # pieces must exceed SPILL_INLINE_BYTES (1 MiB) to hit scratch:
    # 2-step fragments of (time, 384, 384) float64 are ~2.3 MiB
    nt, ny, nx = 8, 384, 384
    rng = np.random.default_rng(11)
    ds = NDDataset(
        {"foo": Variable(("time", "y", "x"), rng.normal(size=(nt, ny, nx)))},
        {
            "time": Variable(("time",), np.arange(nt, dtype="int64")),
            "y": Variable(("y",), np.arange(ny, dtype="float64")),
            "x": Variable(("x",), np.arange(nx, dtype="float64")),
        },
    )
    paths = []
    for i in range(4):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, "s3://spillbkt/t", "sp.zarr",
        target_chunks={"time": 5},  # misaligned: combines across files
        rechunk_shuffle="spill",
    )
    assert_equal(result.open(), ds, check_attrs=False)
    # spill objects were really created on the store mid-run...
    spill_puts = [
        k for m, b, k, q in s3.requests
        if m == "PUT" and b == "spillbkt" and ".spill/" in k
    ]
    assert spill_puts, "no spill objects ever hit the object store"
    # ...and range-read back during combine
    spill_gets = [
        k for m, b, k, q in s3.requests
        if m == "GET" and b == "spillbkt" and ".spill/" in k
    ]
    assert spill_gets
    # the scratch prefix is swept; the target store remains
    leftover = {
        k for (b, k) in s3.objects if b == "spillbkt" and ".spill/" in k
    }
    assert not leftover, f"leaked spill scratch: {sorted(leftover)[:5]}"
    assert ("spillbkt", "t/sp.zarr/zarr.json") in s3.objects


def test_reference_shuffle_sources_and_target_on_s3(spark, tmp_path, s3):
    """THE shuffle's metadata-only ``reference`` mode with SOURCES and
    TARGET both on the object store (r11 verdict stretch ask): the
    exchange moves byte-range references, and the combine stage
    re-reads each needed source piece over authenticated GETs. The
    request log must show (a) the re-reads actually hit the store and
    (b) per-source GET counts stay bounded by the chunk geometry — a
    runaway would read each source once per output chunk element."""
    import numpy as np

    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    nt, ny = 8, 16
    rng = np.random.default_rng(5)
    ds = NDDataset(
        {"foo": Variable(("time", "y"), rng.normal(size=(nt, ny)))},
        {
            "time": Variable(("time",), np.arange(nt, dtype="int64")),
            "y": Variable(("y",), np.arange(ny, dtype="float64")),
        },
    )
    store = S3Store("s3://refsrc2", **s3.client_kwargs())
    urls = []
    for i in range(4):
        p = str(tmp_path / f"rs{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        with open(p, "rb") as f:
            store.put(f"rs{i}.npz", f.read())
        urls.append(f"s3://refsrc2/rs{i}.npz")
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="npz"
    )
    with s3.lock:
        s3.requests.clear()
    result = store_to_zarr(
        spark, pattern, "s3://refout2/t", "ref.zarr",
        target_chunks={"time": 5},  # misaligned: combines across sources
        rechunk_shuffle="reference",
    )
    assert_equal(result.open(), ds, check_attrs=False)
    with s3.lock:
        src_gets = [
            (k, q) for m, b, k, q in s3.requests
            if m == "GET" and b == "refsrc2" and "list-type" not in q
        ]
    per_source = {}
    for k, q in src_gets:
        per_source[k] = per_source.get(k, 0) + 1
    # every source was re-read during combine (the refs mode moved no
    # payload through the exchange)...
    assert set(per_source) == {f"rs{i}.npz" for i in range(4)}
    # ...and the per-source GET count is bounded: open/schema passes +
    # one read per (source, touching-target-chunk) pair — each source
    # spans 2 time steps against time-chunks of 5, so ≤2 chunks touch
    # any source; anything beyond ~8 GETs/source means the combine is
    # re-fetching per element
    assert max(per_source.values()) <= 8, per_source
