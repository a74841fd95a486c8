"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

stdout carries two JSON lines: a full detail record first, then a SHORT
headline line LAST — {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — sized to survive tail-only log
capture. The full detail (per-run times, zarr pipeline, scale stress,
fresh-vs-in-suite attribution) is also written to BENCH_DETAIL.json.

Queries execute end-to-end into a noop sink (full materialization, no
driver collect cost). Each query is timed as best-of-2 to damp JIT/cache
warmup jitter; the Spark session is built before timing starts.
"""

from __future__ import annotations

import json
import os
import shutil
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from pangeo_forge_recipes_spark.session import get_spark

HEADLINE = [
    "domain_cap_sample",
    "snapshot_delta",
    "resize_images",
    "mix_corpora",
    "c4_clean",
    "decontaminate",
    "scrub_pii",
    "dsir_select",
    "gopher_c4_filter",
    "bpe_tokenize",
    "asof_last_order",
    "range_join_orders",
    "skew_salted_join",
    "dedup_lines",
    "quality_filter",
    # r12 rotation: perplexity_buckets left the gate (slot moved to
    # audio_near_dup); its LM-scoring wall stays characterized by
    # quality_filter (same trigram path) and its operator stays pinned
    # in test_lmscore.py
    "audio_near_dup",
    "bloom_dedup_reference",
    "semantic_dedup_pairs",
    "remove_duplicate_spans",
    "ivf_pq_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_simhash",
    "embedding_near_dup",
    "multimodal_features",
    "multimodal_audio",
    "dedup_clusters",
    "dedup_ngram_spans",
    "pack_sequences",
    "tfrecord_roundtrip",
    # round-9 rotation slots
    "phash_near_dup",
    "quality_classifier_score",
    "stratified_sample",
    "streaming_hamming_dedup",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bench_zarr_pipeline(spark) -> dict:
    """BASELINE.md's reference-parity perf proxy: wall-clock of the full
    store_to_zarr round (manifest → schema pass → open → split → shuffled
    combine+write) over a ~50 MB synthetic hypercube in 8 files."""
    import shutil
    import tempfile

    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    nt, nlat, nlon = 64, 180, 360
    rng = np.random.RandomState(7)
    ds = NDDataset(
        {
            "foo": Variable(
                ("time", "lat", "lon"),
                rng.standard_normal((nt, nlat, nlon)),
            ),
            "bar": Variable(
                ("time", "lat", "lon"),
                rng.randint(0, 10_000, (nt, nlat, nlon)).astype("int32"),
            ),
        },
        {
            "time": Variable(("time",), np.arange(nt, dtype="int64")),
            "lat": Variable(("lat",), np.linspace(-89.5, 89.5, nlat)),
            "lon": Variable(("lon",), np.linspace(0.5, 359.5, nlon)),
        },
        {},
        {"time": nt, "lat": nlat, "lon": nlon},
    )
    tmp = tempfile.mkdtemp(prefix="pfrs_bench_")
    try:
        paths = []
        for i in range(8):
            p = os.path.join(tmp, f"f{i}.npz")
            write_npz(p, ds.isel(time=slice(8 * i, 8 * i + 8)))
            paths.append(p)
        pattern = pattern_from_file_sequence(
            paths, "time", nitems_per_file=8, file_type="npz"
        )
        # untimed warm run first: absorbs python-worker spawn for this
        # stage shape AND any adjacent-process churn (a JVM shutting down
        # next door was measured to 3-5x all three timed runs)
        store_to_zarr(
            spark, pattern, tmp, "bench_warm.zarr", target_chunks={"time": 16},
            rechunk_shuffle="payload",
        )
        # best-of-3 (same policy as the queries). chunks=16 spans two
        # 8-step files → the true rechunk shuffle; chunks=8 aligns with
        # files → the zero-shuffle fast path
        out = {}
        for label, chunk in (("shuffled", 16), ("aligned", 8)):
            wall, mb, loads = None, 0.0, []
            for run in range(3):  # best-of-3: the 2-3s walls swing ~2x
                # under python-worker churn; a third sample stabilizes
                loads.append(_loadavg1())
                t0 = time.perf_counter()
                result = store_to_zarr(
                    spark, pattern, tmp, f"bench_{label}{run}.zarr",
                    target_chunks={"time": chunk},
                    # the aligned variant never shuffles; the shuffled one
                    # pins payload mode (reference mode has its own rows)
                    rechunk_shuffle="payload" if label == "shuffled" else None,
                )
                dt = time.perf_counter() - t0
                wall = dt if wall is None else min(wall, dt)
                mb = result.bytes_written / 1e6
                assert result.shuffled == (label == "shuffled")
            out[label] = {
                "wall": round(wall, 3),
                "loads": loads,
                "mb_written": round(mb, 1),
                "mb_per_s": round(mb / wall, 1),
            }

        # sharded layouts: same shuffled write, N chunks per stored object
        # (the object-store request-count lever). At shards=64 the whole
        # store is ONE shard per variable, so the write stage has 2 heavy
        # tasks instead of 8 — the wall gap vs `shuffled` is writer
        # parallelism at this toy store shape, not per-byte cost (measured:
        # encoding a full 33 MB shard object takes 0.4 s; inner codecs are
        # identical to the chunked store). shards=32 (2 objects/var)
        # shows throughput recovering as shard count approaches task
        # count; at production scale shards >> executors and the sharded
        # path matches chunk-grain throughput byte for byte.
        for label, shard in (("sharded", 64), ("sharded_s32", 32)):
            wall, mb, loads = None, 0.0, []
            for run in range(3):
                loads.append(_loadavg1())
                t0 = time.perf_counter()
                result = store_to_zarr(
                    spark, pattern, tmp, f"bench_{label}{run}.zarr",
                    target_chunks={"time": 16}, target_shards={"time": shard},
                    rechunk_shuffle="payload",
                )
                dt = time.perf_counter() - t0
                wall = dt if wall is None else min(wall, dt)
                mb = result.bytes_written / 1e6
            out[label] = {
                "wall": round(wall, 3),
                "loads": loads,
                "mb_written": round(mb, 1),
                "mb_per_s": round(mb / wall, 1),
            }
        out["sharded"]["note"] = (
            "wall gap vs shuffled is writer parallelism (1 shard/var = 2 "
            "heavy tasks vs 8) at bench store shape; shard encode of a "
            "full 33 MB object measures 0.4 s, inner codecs identical"
        )

        # kerchunk branch: combined virtual references over the same files
        from pangeo_forge_recipes_spark import write_combined_reference

        wall, loads = None, []
        for run in range(2):
            loads.append(_loadavg1())
            t0 = time.perf_counter()
            write_combined_reference(
                spark, pattern, tmp, f"bench_ref{run}", max_refs_per_merge=4
            )
            dt = time.perf_counter() - t0
            wall = dt if wall is None else min(wall, dt)
        out["kerchunk"] = {"wall": round(wall, 3), "loads": loads}

        # incremental append: bootstrap from half the files, append the rest
        first = pattern_from_file_sequence(
            paths[:4], "time", nitems_per_file=8, file_type="npz"
        )
        rest = pattern_from_file_sequence(
            paths[4:], "time", nitems_per_file=8, file_type="npz"
        )
        wall, loads = None, []
        for run in range(2):
            store_to_zarr(
                spark, first, tmp, f"bench_app{run}.zarr",
                target_chunks={"time": 8}, consolidate_coords=False,
            )
            loads.append(_loadavg1())
            t0 = time.perf_counter()
            store_to_zarr(
                spark, rest, tmp, f"bench_app{run}.zarr",
                target_chunks={"time": 8}, append_dim="time",
                consolidate_coords=False,
            )
            dt = time.perf_counter() - t0
            wall = dt if wall is None else min(wall, dt)
        out["append"] = {"wall": round(wall, 3), "loads": loads}
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench_zarr_throughput(spark) -> dict:
    """Asymptotic write throughput at ~800 MB — ten times the pipeline
    proxy's payload, where per-job fixed costs stop dominating.

    Round-7 methodology fix (the sharded-saturation shape, bench history
    r4->r6): interleaved best-of-2 was still too few reps on a loaded
    box — the r6 driver artifact read shuffled 82.7 MB/s vs aligned
    65.4, physically inverted, because one aligned run hit a transient
    stall and two reps left no stall-free sample. Now: stores live on
    tmpfs when available (writeback noise removed from the ratio), each
    run is followed by sync + store removal (no dirty-page carry-over),
    the three variants run in ROTATING order across >=3 rounds (no
    variant always enjoys the extra warmth), and the headline tax is the
    ratio of MIN walls — disk/co-tenant stalls only ever INFLATE a wall,
    so min over equal interleaved run counts is the stall-free
    comparator (per-round ratios + per-run loads recorded alongside).
    A stage breakdown of the shuffled path (split -> +exchange ->
    +combine) is recorded so the tax is attributed, not guessed: the
    exchange itself is a few percent of wall; the real cost is the
    combine-side Python<->JVM crossing of the fragment payloads. A
    third variant times rechunk_shuffle='reference' (the metadata-only
    exchange) at the same shape."""
    import shutil
    import tempfile

    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    # per=8 -> 32 files: the ALIGNED (zero-shuffle) variant schedules one
    # write task per file, so 16 files left half a local[32] idle while
    # the shuffled variant's write stage ran at full 32-partition width —
    # a structural asymmetry that inverted the tax under load (r7: a
    # quiet-start run read aligned consistently 2x slower across all
    # three rotating rounds). 32 files give both variants >=32-way
    # parallelism on the same 800 MB.
    nt, nlat, nlon, per = 256, 360, 720, 8
    # same tmpfs gate as _bench_sharded_saturation: fixture npz (~800 MB)
    # + zarr twin sources (~800 MB) + one output store at a time (~800 MB)
    # ~= 2.5 GB peak with per-run removal below
    shm = "/dev/shm"
    use_shm = False
    try:
        mem_avail = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mem_avail = int(line.split()[1]) * 1024
                    break
        use_shm = (
            os.path.isdir(shm)
            and shutil.disk_usage(shm).free > 5 * 1024**3
            and mem_avail > 10 * 1024**3
        )
    except OSError:
        pass
    tmp = tempfile.mkdtemp(prefix="pfrs_tput_", dir=shm if use_shm else None)
    try:
        # fixture synthesis is NOT measured — build the 16 files on a
        # thread pool (driver-side wall is bench budget, not engine perf);
        # per-file seeds keep the corpus independent of worker scheduling
        from concurrent.futures import ThreadPoolExecutor

        def _mk_file(i: int) -> str:
            frng = np.random.RandomState(7 + i)
            ds = NDDataset(
                {
                    "foo": Variable(
                        ("time", "lat", "lon"),
                        frng.standard_normal((per, nlat, nlon)),
                    ),
                    "bar": Variable(
                        ("time", "lat", "lon"),
                        frng.randint(0, 10_000, (per, nlat, nlon)).astype("int32"),
                    ),
                },
                {
                    "time": Variable(
                        ("time",), np.arange(i * per, (i + 1) * per, dtype="int64")
                    ),
                    "lat": Variable(("lat",), np.linspace(-89.5, 89.5, nlat)),
                    "lon": Variable(("lon",), np.linspace(0.5, 359.5, nlon)),
                },
                {},
                {"time": per, "lat": nlat, "lon": nlon},
            )
            p = os.path.join(tmp, f"f{i}.npz")
            write_npz(p, ds)
            return p

        with ThreadPoolExecutor(max_workers=8) as pool:
            paths = list(pool.map(_mk_file, range(nt // per)))
        pattern = pattern_from_file_sequence(
            paths, "time", nitems_per_file=per, file_type="npz"
        )
        # (no shared warm run: each variant gets its own untimed warm
        # below — a single shuffled-shape warm left the other variants'
        # first timed runs paying stage warm-up)
        variants = (
            ("shuffled", {"target_chunks": {"time": 32},
                          "rechunk_shuffle": "payload"}),
            ("aligned", {"target_chunks": {"time": per}}),
            (
                "shuffled_refs",
                {
                    "target_chunks": {"time": 32},
                    "rechunk_shuffle": "reference",
                },
            ),
            # NOTE r10: a fourth "shuffled_spill" variant was tried and
            # REMOVED from the timed rotation — its scratch round-trip
            # doubled this section's wall (~250 s over the driver's
            # capture budget) while matched alternating A/B reads spill
            # within noise of payload locally (the mode stays available
            # + unit-tested; its case is cluster shuffle-storage volume,
            # not local wall-clock — see SURVEY §8 r10 notes)
        )
        variant_kwargs = dict(variants)
        walls = {label: [] for label, _ in variants}
        loads = {label: [] for label, _ in variants}
        nbytes = {}
        run_idx = 0

        def run_tput(label, timed=True) -> None:
            nonlocal run_idx
            name = f"tput_{label}{run_idx}.zarr"
            run_idx += 1
            load0 = _loadavg1()
            t0 = time.perf_counter()
            res = store_to_zarr(spark, pattern, tmp, name, **variant_kwargs[label])
            wall = time.perf_counter() - t0
            assert res.shuffled == label.startswith("shuffled")
            nbytes[label] = res.bytes_written
            # drain async writeback + drop the store: the NEXT run must
            # not pay this run's dirty pages (saturation-section shape)
            os.sync()
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            os.sync()
            if timed:
                walls[label].append(wall)
                loads[label].append(load0)

        # one untimed warm run PER VARIANT (the saturation-section rule:
        # each variant is a distinct stage shape whose first heavy run
        # pays python-worker/stage warm-up — a shared warm run only
        # covers the shuffled shape and inverted the r6-style tax)
        order = [label for label, _ in variants]
        for label in order:
            run_tput(label, timed=False)
        # rotating-order rounds: 3 rounds x 3 variants, each variant
        # first/middle/last exactly once; round ratios recorded so a
        # stall inside one round is visible in the artifact
        round_tax = []
        for rnd in range(3):
            for label in order[rnd:] + order[:rnd]:
                run_tput(label)
            round_tax.append(
                round(walls["shuffled"][-1] / walls["aligned"][-1], 3)
            )
        out = {}
        for label, _ in variants:
            wall = min(walls[label])
            out[label] = {
                "wall": round(wall, 2),
                "runs": [round(w, 2) for w in walls[label]],
                "loads": loads[label],
                "mb_written": round(nbytes[label] / 1e6, 0),
                "mb_per_s": round(nbytes[label] / 1e6 / wall, 1),
            }
        out["round_tax_ratios"] = round_tax
        out["shuffled_over_aligned_tax"] = round(
            min(walls["shuffled"]) / min(walls["aligned"]), 2
        )
        out["medium"] = "tmpfs" if use_shm else "disk"

        # stage attribution of the shuffled path (one shot each, warm):
        # split_only = decode+split+serialize+Arrow-out; +exchange adds
        # the shuffle write/read (JVM-side agg, payloads never return to
        # Python); +combine_write adds the Arrow return + deserialize +
        # concat + region write into a throwaway store
        from pyspark.sql import functions as F

        from pangeo_forge_recipes_spark.dsio import schema_to_zarr
        from pangeo_forge_recipes_spark.transforms import (
            determine_schema,
            index_items,
            manifest_df,
            open_split_fragments_df,
            read_schemas_df,
            rechunk_and_store,
        )

        sess = spark.newSession()
        sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        manifest = manifest_df(sess, pattern)
        schema = determine_schema(
            read_schemas_df(manifest, "npz"), pattern.combine_dim_keys
        )
        indexed = index_items(manifest, schema)
        chunks = {"time": 32}

        def _noop(df):
            df.write.format("noop").mode("overwrite").save()

        stages = {}
        t0 = time.perf_counter()
        _noop(
            open_split_fragments_df(
                indexed, "npz", target_chunks=chunks, schema=schema
            )
        )
        stages["split_only"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        _noop(
            open_split_fragments_df(
                indexed, "npz", target_chunks=chunks, schema=schema
            )
            .groupBy("group_key")
            .agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("b"))
        )
        stages["split_plus_exchange"] = round(time.perf_counter() - t0, 2)
        breakdown_store = os.path.join(tmp, "breakdown.zarr")
        schema_to_zarr(schema, breakdown_store, target_chunks=chunks)
        t0 = time.perf_counter()
        _noop(
            rechunk_and_store(
                open_split_fragments_df(
                    indexed, "npz", target_chunks=chunks, schema=schema
                ),
                breakdown_store,
            )
        )
        stages["split_exchange_combine_write"] = round(time.perf_counter() - t0, 2)
        shutil.rmtree(breakdown_store, ignore_errors=True)
        out["shuffled_stage_breakdown"] = stages

        # reference mode on its TARGET workload: chunk-lazy zarr sources
        # (round-5 ask — the npz comparison above is its declared worst
        # case, eager sources paying a full second decode). Same 800 MB
        # of data as 16 zarr stores with time-chunks of 8; target chunks
        # 32 straddle stores, so both variants take the true rechunk
        # shuffle. Payload mode reads every source fully and ships the
        # corpus through the exchange twice (shuffle write+read) plus
        # two Python<->JVM crossings; reference mode shuffles only
        # (group_key, url) rows and each write task RANGE-READS exactly
        # its group's chunks of the lazy source (open_zarr_group
        # load=False -> LazyArray).
        from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
        from pangeo_forge_recipes_spark.dsio import schema_to_zarr
        from pangeo_forge_recipes_spark.zarrio import open_group

        from pangeo_forge_recipes_spark.dsio import read_npz

        def _mk_store(args) -> str:
            i, p = args
            src = read_npz(p)
            zp = os.path.join(tmp, f"zsrc{i}.zarr")
            zstore = schema_to_zarr(
                dataset_to_schema(src), zp, target_chunks={"time": 8}
            )
            g = open_group(zstore)
            for name, var in {**src.coords, **src.data_vars}.items():
                g[name][tuple(slice(0, s) for s in var.data.shape)] = var.data
            return zp

        with ThreadPoolExecutor(max_workers=8) as pool:
            zpaths = list(pool.map(_mk_store, enumerate(paths)))
        zpattern = pattern_from_file_sequence(
            zpaths, "time", nitems_per_file=per, file_type="zarr"
        )
        lazy_variants = (
            ("payload", {"target_chunks": {"time": 32},
                         "rechunk_shuffle": "payload"}),
            (
                "reference",
                {"target_chunks": {"time": 32}, "rechunk_shuffle": "reference"},
            ),
        )
        lz = {label: {"runs": [], "loads": []} for label, _ in lazy_variants}
        lazy_kwargs = dict(lazy_variants)

        def run_lazy(label, timed=True) -> None:
            nonlocal run_idx
            name = f"lazy_{label}{run_idx}.zarr"
            run_idx += 1
            load0 = _loadavg1()
            t0 = time.perf_counter()
            res = store_to_zarr(spark, zpattern, tmp, name, **lazy_kwargs[label])
            wall = time.perf_counter() - t0
            assert res.shuffled, label
            os.sync()
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            os.sync()
            if timed:
                lz[label]["runs"].append(round(wall, 2))
                lz[label]["loads"].append(load0)
                lz[label]["mb_written"] = round(res.bytes_written / 1e6, 0)

        # one untimed warm PER VARIANT (zarr-opener payload shape and
        # reference metadata-exchange shape are distinct stage shapes)
        for label, _ in lazy_variants:
            run_lazy(label, timed=False)
        # 3 alternating-order back-to-back pairs (saturation shape):
        # each pair equally warm and equally loaded; per-pair ratios
        # recorded, headline = ratio of MIN walls (stalls only inflate)
        pair_ratios = []
        for pair in (
            ("payload", "reference"),
            ("reference", "payload"),
            ("payload", "reference"),
        ):
            for label in pair:
                run_lazy(label)
            pair_ratios.append(
                round(lz["payload"]["runs"][-1] / lz["reference"]["runs"][-1], 3)
            )
        for label in ("payload", "reference"):
            wall = min(lz[label]["runs"])
            lz[label]["wall"] = wall
            lz[label]["mb_per_s"] = round(lz[label]["mb_written"] / wall, 1)
        lz["pair_ratios"] = pair_ratios
        lz["reference_over_payload_speedup"] = round(
            min(lz["payload"]["runs"]) / min(lz["reference"]["runs"]), 2
        )
        lz["note"] = (
            "chunk-lazy zarr sources, both variants through the true "
            "rechunk shuffle; 3 alternating-order back-to-back pairs with "
            "sync+removal between runs, speedup = ratio of MIN walls "
            "(>1.0 means the metadata-only exchange wins on its target "
            "workload); per-pair ratios + per-run loads alongside"
        )
        out["reference_mode_lazy"] = lz
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench_sharded_saturation(spark) -> dict:
    """Round-4 ask: DEMONSTRATE (not argue) that the sharded write path
    matches chunk-grain throughput once shard count saturates the
    cluster. The 50 MB pipeline proxy has 1-2 shards per variable = 2-4
    heavy write tasks on 32 cores, so its sharded row measures writer
    starvation, not per-byte cost.

    Shape: nt=240 in 20 files of 12 steps; stored-object extent 16 along
    time in BOTH variants — plain chunks {time:16} vs shards {time:16}
    over inner chunks {time:8}. Extent 16 straddles the 12-step files,
    so both variants take the true rechunk-shuffle path, and 15 objects
    x 2 variables = 30 concurrent heavy write tasks ≈ cluster width.
    The ONLY difference is the shard container encode (inner-chunk index
    + concatenation) vs the raw chunk encode — the per-byte claim."""
    import shutil
    import tempfile

    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    nt, nlat, nlon, per = 240, 360, 720, 12
    # the claim under test is the per-byte ENCODE cost of the shard
    # container vs raw chunks — a ratio, not disk throughput. On-disk
    # ~750 MB writes suffer writeback/page-cache scheduling noise that
    # swung the measured ratio 0.6-1.3 across otherwise-identical runs
    # (r4-r6 history); tmpfs removes the disk from the loop so the ratio
    # isolates the encode difference. Falls back to disk tmp when shm
    # can't hold ~2 stores + fixture (~2.5 GB).
    shm = "/dev/shm"
    use_shm = False
    try:
        # tmpfs pages are RAM: require headroom in MemAvailable too, or
        # the ~2.5 GB of stores could push a memory-pressured box into
        # the OOM killer instead of stabilizing the measurement
        mem_avail = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mem_avail = int(line.split()[1]) * 1024
                    break
        use_shm = (
            os.path.isdir(shm)
            and shutil.disk_usage(shm).free > 4 * 1024**3
            and mem_avail > 8 * 1024**3
        )
    except OSError:
        pass
    tmp = tempfile.mkdtemp(prefix="pfrs_shard_", dir=shm if use_shm else None)
    try:
        # fixture synthesis is NOT measured — thread-pool the 20 files
        # (per-file seeds; see _bench_zarr_throughput)
        from concurrent.futures import ThreadPoolExecutor

        def _mk_file(i: int) -> str:
            frng = np.random.RandomState(11 + i)
            ds = NDDataset(
                {
                    "foo": Variable(
                        ("time", "lat", "lon"),
                        frng.standard_normal((per, nlat, nlon)),
                    ),
                    "bar": Variable(
                        ("time", "lat", "lon"),
                        frng.randint(0, 10_000, (per, nlat, nlon)).astype("int32"),
                    ),
                },
                {
                    "time": Variable(
                        ("time",), np.arange(i * per, (i + 1) * per, dtype="int64")
                    ),
                    "lat": Variable(("lat",), np.linspace(-89.5, 89.5, nlat)),
                    "lon": Variable(("lon",), np.linspace(0.5, 359.5, nlon)),
                },
                {},
                {"time": per, "lat": nlat, "lon": nlon},
            )
            p = os.path.join(tmp, f"f{i}.npz")
            write_npz(p, ds)
            return p

        with ThreadPoolExecutor(max_workers=8) as pool:
            paths = list(pool.map(_mk_file, range(nt // per)))
        pattern = pattern_from_file_sequence(
            paths, "time", nitems_per_file=per, file_type="npz"
        )
        # one untimed warm run PER VARIANT: the first heavy shuffle at a
        # new stage shape pays python-worker spawn, and at ~750 MB/run the
        # page cache / JIT keep warming for several runs — an A,B,A,B
        # best-of-2 systematically favored whichever variant ran later
        # (r4 recorded 0.55 from exactly this; a counterbalanced rerun on
        # a quiet box measured 0.97)
        variants = {
            "chunked": {"target_chunks": {"time": 16}},
            "sharded": {"target_chunks": {"time": 8}, "target_shards": {"time": 16}},
        }
        walls = {label: [] for label in variants}
        loads = {label: [] for label in variants}
        nbytes = {}
        run_idx = 0

        def run_one(label, timed):
            nonlocal run_idx
            name = f"sat_{label}{run_idx}.zarr"
            run_idx += 1
            load0 = _loadavg1()
            t0 = time.perf_counter()
            res = store_to_zarr(spark, pattern, tmp, name, **variants[label])
            wall = time.perf_counter() - t0
            assert res.shuffled, label  # extent 16 straddles files
            nbytes[label] = res.bytes_written
            # drain async writeback and drop the store so the NEXT run
            # doesn't pay this run's dirty pages
            os.sync()
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            os.sync()
            if timed:
                walls[label].append(wall)
                loads[label].append(load0)

        for label in variants:
            run_one(label, timed=False)
        # PAIRED runs (r5 fix): the ~750 MB shape keeps warming (page
        # cache, JIT) for several runs AND a loaded co-tenant skews any
        # min-of-independent-runs comparison — the r5 driver artifact
        # read 0.63 while quiet reruns read ~0.96 exactly because walls
        # were still declining at its last run. Running the two variants
        # BACK-TO-BACK and taking the ratio WITHIN each pair cancels
        # both drifts (each pair is equally warm and equally loaded);
        # the median of pair ratios is the headline. Within-pair order
        # alternates so neither variant always enjoys the extra warmth.
        pair_ratios = []
        for pair in (("chunked", "sharded"), ("sharded", "chunked"), ("chunked", "sharded")):
            for label in pair:
                run_one(label, timed=True)
            pair_ratios.append(
                round(walls["chunked"][-1] / walls["sharded"][-1], 3)
            )
        out = {}
        for label in variants:
            wall = min(walls[label])
            out[label] = {
                "wall": round(wall, 2),
                "runs": [round(w, 2) for w in walls[label]],
                "loads": loads[label],
                "mb_written": round(nbytes[label] / 1e6, 0),
                "mb_per_s": round(nbytes[label] / 1e6 / wall, 1),
            }
        pair_ratios_sorted = sorted(pair_ratios)
        out["pair_ratios"] = pair_ratios
        out["pair_ratio_median"] = pair_ratios_sorted[len(pair_ratios) // 2]
        # headline = ratio of MIN walls across the SAME paired,
        # alternating-order, sync-separated runs. Disk-bound ~750 MB
        # writes suffer transient writeback/co-tenant stalls that hit
        # ONE run at a time and only ever INFLATE it (a stall never
        # makes a run faster), so per-pair ratios are corrupted whenever
        # a stall lands inside a pair (observed: sharded walls
        # [7.6, 11.6, 3.5] next to stable chunked [4.3, 3.8, 4.2] —
        # pair medians said 0.57 while both variants' stall-free walls
        # agree within 8%). min over equal, interleaved run counts is
        # the steady-state comparator; the pairing still guarantees
        # both variants see the same warm-up and load exposure.
        out["sharded_over_chunked"] = round(
            min(walls["chunked"]) / min(walls["sharded"]), 2
        )
        out["medium"] = "tmpfs" if use_shm else "disk"
        out["note"] = (
            "same stored-object grid (extent 16, 15 objects/var = 30 heavy "
            "write tasks), both via the rechunk shuffle; difference is the "
            "shard container encode vs raw chunk encode — a per-byte "
            "ENCODE ratio, so stores live on tmpfs when available (on-disk "
            "writeback noise swung the ratio 0.6-1.3 across identical "
            "runs). sharded_over_chunked = ratio of MIN walls over paired "
            "alternating-order runs (stalls only inflate walls, so min "
            "is the stall-free comparator); per-pair ratios + per-run "
            "loadavg recorded alongside."
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench_scale_stress(spark, sf_dir: str, factor: int = 10) -> dict:
    """Subquadratic-growth check (round-2 ask): run the designated scale
    paths of the dedup/ANN family at 1x and ``factor``x the documents /
    embeddings corpus and report wall-time growth.

    The scaled corpus is ``factor`` disjoint replicas — texts get a
    per-replica token suffix (disjoint shingle spaces), embeddings get a
    per-replica cyclic shift (cosine structure preserved within a replica,
    decorrelated across replicas) — so the TRUE near-dup structure grows
    exactly linearly and any superlinear wall growth is the engine's.
    """
    from pyspark.sql import functions as F

    from pangeo_forge_recipes_spark.operators.clustering import semantic_dedup
    from pangeo_forge_recipes_spark.operators.components import dedup_clusters
    from pangeo_forge_recipes_spark.operators.dedup import minhash_dedup
    from pangeo_forge_recipes_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_topk,
        query_ivf_pq_index,
    )

    docs0 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    embs0 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )

    def scaled_docs(f: int):
        # per-replica alphabet rotation: bijective on chars, so each
        # replica's internal near-dup structure (shingle-set Jaccard) is
        # EXACTLY the original's, while char-shingle sets across replicas
        # are disjoint — no cross-replica LSH collisions, true pair count
        # scales exactly linearly
        import string

        lo, up = string.ascii_lowercase, string.ascii_uppercase
        reps = spark.range(f).withColumnRenamed("id", "rep")
        text = F.col("text")
        for r in range(1, f):
            text = F.when(
                F.col("rep") == r,
                F.translate(
                    F.col("text"), lo + up, lo[r:] + lo[:r] + up[r:] + up[:r]
                ),
            ).otherwise(text)
        return docs0.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") * f + F.col("rep")).alias("doc_id"),
            text.alias("text"),
        )

    def scaled_embs(f: int):
        reps = spark.range(f).withColumnRenamed("id", "rep")
        dim = F.size("embedding")
        rolled = F.concat(
            F.slice(F.col("embedding"), F.col("rep") + 1, dim - F.col("rep")),
            F.slice(F.col("embedding"), F.lit(1), F.col("rep")),
        )
        return embs0.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") * f + F.col("rep")).alias("vec_id"),
            rolled.alias("embedding"),
        )

    out = {}
    width = spark.sparkContext.defaultParallelism
    # materialize BOTH corpora up front (untimed): the x1/x10 reps of
    # each operator then run back-to-back, so a co-tenant load spike
    # hits both sides of a growth ratio equally — the r5 driver artifact
    # read minhash growth 7.15 (vs 2.78 quiet) because the whole x10
    # phase ran minutes after the x1 phase, under different load, and
    # nothing recorded could attribute the gap. Repartition to cluster
    # width: the scaled frame otherwise inherits the source parquet's
    # handful of partitions and starves the signature/GEMM stages.
    corp = {}
    for f in (1, factor):
        d = scaled_docs(f).repartition(width).persist()
        e = scaled_embs(f).repartition(width).persist()
        corp[f] = {"d": d, "e": e, "n_docs": d.count(), "n_vecs": e.count()}
        out[f"x{f}"] = {"n_docs": corp[f]["n_docs"], "n_vecs": corp[f]["n_vecs"]}

    pairs_by_f = {}

    def run_minhash(f):
        old = pairs_by_f.pop(f, None)
        if old is not None:
            old[0].unpersist()
        p = minhash_dedup(
            corp[f]["d"], num_perm=64, bands=16, threshold=0.8
        ).persist()
        pairs_by_f[f] = (p, p.count())

    def run_clusters(f):
        dedup_clusters(corp[f]["d"], pairs_by_f[f][0]).write.format(
            "noop"
        ).mode("overwrite").save()

    def run_semantic(f):
        semantic_dedup(corp[f]["e"], k=16, threshold=0.99).write.format(
            "noop"
        ).mode("overwrite").save()

    def nlist_for(f):
        # IVF practice: nlist grows with the corpus so inverted-list
        # length (and so candidates per query) stays constant —
        # self-search with a FIXED nlist is inherently quadratic
        return max(16, corp[f]["n_vecs"] // 125)

    def run_ivf(f):
        ivf_topk(
            corp[f]["e"], k=3, nprobe=4, n_centroids=nlist_for(f)
        ).write.format("noop").mode("overwrite").save()

    # persisted-index serving stress: BUILD untimed per scale (the
    # build-once premise), then time a fixed 100-query batch — with
    # nlist growing with the corpus, a query probes nprobe lists of
    # ~constant length and file-level partition pruning keeps the scan
    # at O(nprobe/nlist) of the index bytes, so query wall should grow
    # FAR slower than the corpus (the whole point of the artifact)
    import tempfile as _tf

    idx_dir = _tf.mkdtemp(prefix="pfrs_ivfpq_")
    idx_paths = {}
    for f in (1, factor):
        pth = os.path.join(idx_dir, f"x{f}")
        build_ivf_pq_index(
            corp[f]["e"], pth, n_centroids=nlist_for(f), m=8, nbits=4
        )
        idx_paths[f] = pth
    q100 = embs0.orderBy("vec_id").limit(100).persist()
    q100.count()

    def run_index_query(f):
        query_ivf_pq_index(
            spark, idx_paths[f], q100, k=3, nprobe=4
        ).write.format("noop").mode("overwrite").save()

    ops = {
        "minhash_dedup": run_minhash,
        "dedup_clusters": run_clusters,
        "semantic_dedup": run_semantic,
        "ann_ivf_topk": run_ivf,
        "ivf_pq_index_query": run_index_query,
    }
    walls = {op: {f: [] for f in (1, factor)} for op in ops}
    loads = {op: {f: [] for f in (1, factor)} for op in ops}
    # 2 interleaved (x1, x10) pairs per operator; rep 0 also absorbs
    # python-worker/codegen warm-up equally on both sides of the pair
    for rep in range(2):
        for op, fn in ops.items():
            for f in (1, factor):
                load0 = _loadavg1()
                t0 = time.perf_counter()
                fn(f)
                walls[op][f].append(round(time.perf_counter() - t0, 3))
                loads[op][f].append(load0)
    for f in (1, factor):
        row = out[f"x{f}"]
        for op in ops:
            row[op] = min(walls[op][f])
        row["n_pairs"] = pairs_by_f[f][1]
        row["ivf_nlist"] = nlist_for(f)
    out["runs"] = {
        op: {f"x{f}": walls[op][f] for f in (1, factor)} for op in ops
    }
    out["loads"] = {
        op: {f"x{f}": loads[op][f] for f in (1, factor)} for op in ops
    }
    # growth per op = MEDIAN of per-rep (x10 wall / x1 wall) ratios —
    # each rep's two sides ran adjacently under the same load
    out["growth"] = {}
    for op in ops:
        ratios = sorted(
            b / a for a, b in zip(walls[op][1], walls[op][factor]) if a
        )
        out["growth"][op] = (
            round((ratios[len(ratios) // 2] + ratios[(len(ratios) - 1) // 2]) / 2, 2)
            if ratios
            else None
        )
    for f in (1, factor):
        pairs_by_f[f][0].unpersist()
        corp[f]["d"].unpersist()
        corp[f]["e"].unpersist()
    q100.unpersist()
    shutil.rmtree(idx_dir, ignore_errors=True)
    out["note"] = (
        f"growth = median over reps of within-rep (x{factor}/x1) wall "
        f"ratio, x1 and x{factor} run back-to-back per rep with per-run "
        f"loadavg recorded; linear scaling = {factor}.0, sublinear < "
        f"{factor}.0"
    )
    return out


def _bench_ivf_pq_s3(spark, sf_dir: str) -> dict:
    """The ANN serving loop on OBJECT storage (r8 verdict #5): build the
    IVFxPQ index on an S3 endpoint, append an increment with the saved
    model, query with list-level pruning — walls for each leg, plus the
    probe-bytes bound measured from the endpoint's own request log
    (bytes actually GET'd / total index bytes)."""
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from tests.fake_s3 import FakeS3

    from pangeo_forge_recipes_spark.operators.similarity import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        query_ivf_pq_index,
    )
    from pangeo_forge_recipes_spark.s3io import configure_spark_s3
    from pyspark.sql import functions as F

    srv = FakeS3()
    out: dict = {}
    try:
        configure_spark_s3(spark, **srv.client_kwargs())
        embs = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        base = embs.where(F.col("vec_id") % 5 != 0)
        inc = embs.where(F.col("vec_id") % 5 == 0)
        path = "s3://benchidx/idx"
        t0 = time.perf_counter()
        meta = build_ivf_pq_index(base, path, n_centroids=16, m=8, nbits=4)
        out["build_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        n_app = append_to_ivf_pq_index(inc, path)
        out["append_s"] = round(time.perf_counter() - t0, 3)
        out["n_base"] = meta["n_vectors"]
        out["n_appended"] = n_app
        q100 = embs.orderBy("vec_id").limit(100).persist()
        q100.count()
        _materialize(query_ivf_pq_index(spark, path, q100, k=3, nprobe=4))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            _materialize(query_ivf_pq_index(spark, path, q100, k=3, nprobe=4))
            walls.append(round(time.perf_counter() - t0, 3))
        out["query100_s"] = min(walls)
        out["query_runs"] = walls
        # probe-bytes bound: 3 queries x nprobe=2 must GET only their
        # probed lists' objects (every GET visible in the endpoint log)
        q3 = embs.orderBy("vec_id").limit(3).persist()
        q3.count()
        srv.requests.clear()
        _materialize(query_ivf_pq_index(spark, path, q3, k=3, nprobe=2))
        with srv.lock:
            index_bytes = sum(
                len(v)
                for (b, k), v in srv.objects.items()
                if b == "benchidx" and "centroid=" in k
            )
            fetched_keys = {
                k
                for m, b, k, qq in srv.requests
                if m == "GET" and b == "benchidx" and "centroid=" in k
                and "list-type" not in qq
            }
            fetched_bytes = sum(
                len(srv.objects[("benchidx", k)])
                for k in fetched_keys
                if ("benchidx", k) in srv.objects
            )
        lists = {k.split("centroid=")[1].split("/")[0] for k in fetched_keys}
        out["probe_lists_fetched"] = len(lists)
        out["probe_n_lists"] = meta["n_centroids"]
        out["probe_bytes_fetched"] = fetched_bytes
        out["index_bytes"] = index_bytes
        out["probe_bytes_fraction"] = (
            round(fetched_bytes / index_bytes, 4) if index_bytes else None
        )
        out["probe_bound_held"] = len(lists) <= 6  # 3 queries x nprobe 2
        q100.unpersist()
        q3.unpersist()
    finally:
        srv.stop()
    return out


def _loadavg1() -> float | None:
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return None


# Shared wait budget across ALL quiet gates (r11 verdict #1: the battery
# gate's 60 s cap timed out at load 10.6 — 2.6x its threshold — and the
# stress/sharded sections had no gate at all, so seven query walls and the
# stress-growth number shipped load-inflated). Individual gates draw from
# this pool so a hopeless box can't stall the run longer than the pool;
# on a quiet box every gate costs ~0. bench re-emits after each section,
# so pool overflow only risks the LAST sections, never the query battery.
_GATE_POOL = [float(os.environ.get("SPARK_GRAFT_GATE_POOL_S", "600"))]

# r13 (r12 verdict #1): the fault-recovery wait gets its OWN budget,
# separate from the load pool — the r12 capture exhausted the shared
# 600 s pool waiting out a host page-fault stall and then timed the
# whole battery inside the stall anyway (BENCH_DETAIL start/battery
# gates fault_gbps 0.00/0.01, gate_pool_left_s 0.0). Stall phases
# measured 60+ min, so even this pool can expire; when it does, the
# artifact must say so — every gate records fault_satisfied, and the
# emitted JSON carries a top-level "stall_phase": true whenever any
# timed section started with first-touch throughput below the gate,
# so PERF can discount a stall-phase capture instead of mistaking it
# for a code regression.
_FAULT_POOL = [float(os.environ.get("SPARK_GRAFT_FAULT_WAIT_S", "900"))]
_STALL_SEEN = [False]


def _fault_probe_gbps(mb: int = 128) -> float:
    """First-touch page-fault throughput (GB/s): allocate ``mb`` MB of
    fresh anon memory and touch every page once. r12 finding: this
    sandbox's host intermittently makes first-touch faults 2-3 orders
    of magnitude slower (measured 1.6 GB faulted in 81.5 s = 0.02 GB/s,
    vs 8+ GB/s healthy minutes later, with loadavg ~0, zero steal, zero
    guest-visible major faults/compaction stalls) — phases last minutes
    and invisibly inflate every allocation-heavy wall. Loadavg gates
    cannot see it, so each gate records this probe alongside the load.

    r13 calibration fix: the probe is TWO back-to-back allocations and
    reports the max. Measured on this host, the FIRST allocation after
    any >= 2 s gap reads 0.25-0.45 GB/s even when an immediate second
    one reads 4.5+ (a per-burst reclaim/compaction artifact on freshly
    returned pages), while the genuine stall mode is slow on repeats
    too (sustained 0.01-0.05). A single-shot probe inside the 10 s gate
    loop therefore ALWAYS sees the after-gap artifact and can read a
    healthy box as stalled forever — the r13 capture-2 start gate
    burned its full 900 s pool at "0.18 GB/s" while the battery it then
    ran recorded the best walls of any round. Max-of-two measures what
    sustained allocation actually gets."""
    import numpy as np

    best = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        a = np.empty(mb * 131072, dtype=np.float64)
        a.fill(1.0)
        dt = time.perf_counter() - t0
        del a
        best = max(best, mb / 1024.0 / dt)
    return round(best, 2)


def _wait_for_quiet(threshold: float, max_wait_s: float) -> dict:
    """Bounded wait for the 1-min load to drain below ``threshold``
    (r9 verdict: the shipped artifact ran at load 8-17 and uniformly
    inflated ~40 per-query walls 1.4-1.7x — gate the WHOLE battery the
    way the 800 MB section already gates itself). Records what happened
    so the artifact is load-annotated either way.

    Interpretation note for the recorded loads: the battery's own
    local[32] bursts keep the 1-min loadavg at ~5.5-8 even on an
    otherwise-idle box (measured r8-r10 quiet runs) — a recorded
    per-query load in that band is self-load, not co-tenant noise;
    loads >10 mean the gate was genuinely defeated."""
    cap = min(max_wait_s, _GATE_POOL[0])
    gate = {
        "threshold": threshold,
        "load_before": _loadavg1(),
        "max_wait_s": max_wait_s,
        "pool_left_s": round(_GATE_POOL[0], 1),
    }
    waited = 0.0
    while (_loadavg1() or 0.0) > threshold and waited < cap:
        time.sleep(5)
        waited += 5
    _GATE_POOL[0] = max(0.0, _GATE_POOL[0] - waited)
    # r12: the load can be quiet while the HOST is in a page-fault stall
    # phase (see _fault_probe_gbps) — also wait for first-touch
    # throughput to recover, else every allocation-heavy wall in the
    # section measures the host, not the engine. 0.5 GB/s separates the
    # observed modes (stalls read 0.01-0.05, healthy 3-8).
    # r13 (r12 verdict #1): this wait draws from its OWN pool
    # (_FAULT_POOL, $SPARK_GRAFT_FAULT_WAIT_S, default 900 s) instead of
    # the load pool, and an unrecovered probe marks the gate
    # fault_satisfied=false AND flips the artifact-wide stall_phase flag.
    t_probe = time.perf_counter()
    fault = _fault_probe_gbps()
    thresh_gbps = float(os.environ.get("SPARK_GRAFT_FAULT_GATE_GBPS", "0.5"))
    fwaited = 0.0
    while fault < thresh_gbps and fwaited < _FAULT_POOL[0]:
        time.sleep(10)
        fault = _fault_probe_gbps()
        fwaited += time.perf_counter() - t_probe
        t_probe = time.perf_counter()
    _FAULT_POOL[0] = max(0.0, _FAULT_POOL[0] - fwaited)
    gate["waited_s"] = round(waited, 1)
    gate["fault_waited_s"] = round(fwaited, 1)
    gate["fault_pool_left_s"] = round(_FAULT_POOL[0], 1)
    gate["load_after"] = _loadavg1()
    gate["fault_gbps"] = fault
    gate["fault_satisfied"] = fault >= thresh_gbps
    # r12 ADVICE: satisfied must reflect BOTH conditions — a gate that
    # timed out mid-stall must not read as healthy in the artifact
    gate["satisfied"] = (
        (gate["load_after"] or 0.0) <= threshold and gate["fault_satisfied"]
    )
    if not gate["fault_satisfied"]:
        _STALL_SEEN[0] = True
    return gate


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    # sampled BEFORE the SparkSession exists: everything local[32] adds
    # to the box's load after this point is the bench's own self-load,
    # so start-vs-end loadavg separates co-tenant noise from self-load
    try:
        loadavg_at_invoke = [round(v, 1) for v in os.getloadavg()]
    except OSError:
        loadavg_at_invoke = None

    # whole-battery quiet-start gate (r9 verdict #2): don't start timing
    # on a box still draining a previous suite's load — wait (bounded)
    # for quiet FIRST, then record loadavg_at_start as the post-gate
    # state the measurements actually ran under.
    # ceiling sized against the driver's ~890 s capture window: the r9
    # artifact ran 742 s of sections, so gates get ~150 s total — a
    # 120 s wait takes a 1-min load of ~12 (the correctness run's
    # residue) down to ~4, and quiet timings win back ~100 s of
    # load-inflated walls across the battery
    start_gate = _wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
        float(os.environ.get("SPARK_GRAFT_START_WAIT_S", "120")),
    )
    try:
        loadavg_at_start = [round(v, 1) for v in os.getloadavg()]
    except OSError:
        loadavg_at_start = None

    spark = get_spark(app_name="pfrs-bench")
    queries = entrymod.queries()

    # per-section wall clocks (budget accounting: the driver captures the
    # artifact under a hard timeout, so where the run's time goes must be
    # readable from the artifact itself)
    section_walls = {}
    _sect_last = [time.perf_counter()]

    def _mark(name: str) -> None:
        now = time.perf_counter()
        section_walls[name] = round(now - _sect_last[0], 1)
        _sect_last[0] = now

    # bench-scoped partitioning for the QUERY battery: size shuffle width
    # to the benchmark SF (at sf0.1 the largest table is 600k rows — a
    # 32-way shuffle of that is pure task-scheduling overhead; 8
    # partitions is ~75k rows each). This is the local-mode analogue of
    # what AQE partition coalescing does on a real cluster; the session
    # default stays 32, and the zarr pipeline / scale-stress sections run
    # at full width (their payloads are MB-scale fragments, not rows).
    BATTERY_SP = os.environ.get("SPARK_GRAFT_BATTERY_SP", "8")
    FULL_SP = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", BATTERY_SP)

    # Warm-up BEFORE any timing: materialize every cached table (so no
    # measured query absorbs cache-fill cost) and run one trivial noop
    # write (so no measured query absorbs the sink's first-use cost).
    # Round-2 lesson: q1, as the first-timed query, recorded 4.4x its
    # round-1 time purely because both its runs paid cache/codegen
    # warm-up after the zarr pipeline churned the executor state.
    entrymod._register(spark, sf_dir)
    for t in entrymod.TABLES:
        try:
            spark.table(t).count()
        except Exception:
            pass
    _materialize(spark.range(8))
    # fork the python-worker pool before any timing (mapInPandas queries
    # otherwise pay the 32-worker spawn on their first measured run)
    _materialize(spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long"))

    # attribution probe (round-3 ask): time a sample of cheap SQL queries
    # NOW — fresh session, before the zarr pipeline / query storm — and
    # again in suite order below. A systematic fresh-vs-in-suite delta
    # attributes sequential slowdown to accumulated session state /
    # worker churn rather than the queries themselves.
    PROBES = [
        # r11: dedup_exact rotated to extra_matched; quality_filter is
        # the same cheap-SQL shape still resolvable from queries()
        "quality_filter",
        "c4_clean",
        "scrub_pii",
        "asof_last_order",
    ]
    fresh_probe = {}
    for name in PROBES:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(queries[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        fresh_probe[name] = round(best, 3)
    _mark("warmup_and_probes")

    # pipeline proxy first: measured before the query storm churns the
    # python worker pool (box shows 2-3x wall variance under load) —
    # at full shuffle width (MB-scale fragment payloads want the cores)
    spark.conf.set("spark.sql.shuffle.partitions", FULL_SP)
    pipeline = _bench_zarr_pipeline(spark)
    spark.conf.set("spark.sql.shuffle.partitions", BATTERY_SP)
    _mark("zarr_pipeline_50mb")

    # re-warm after the pipeline: its mapInPandas stages spawn/retire
    # dozens of python workers whose import cost otherwise lands on the
    # first few timed queries (both best-of-2 runs execute back-to-back,
    # inside the same churn window)
    for t in entrymod.TABLES:
        try:
            spark.table(t).count()
        except Exception:
            pass
    _materialize(spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long"))

    # apples-to-apples DuckDB oracle setup BEFORE the timed loop: each
    # matched query's oracle runs back-to-back with its Spark timing so
    # both sides see the same box load (round 4's lesson: timing all
    # Spark queries first and DuckDB last let co-tenant load inflate
    # whichever side ran later — the subset ratio swung 2.4x..5.3x on
    # identical code)
    import duckdb

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # the hash-family replication oracles (minhash/simhash/clusters/lsh/ivf/
    # multimodal sha) are correctness artifacts written for the sf0.01 gate:
    # they deliberately do O(n²) all-pairs work that the Spark operators
    # avoid, so at sf0.1 they measure the oracle, not the engine. The
    # apples-to-apples baseline is the shared-ANSI + cheap-oracle set.
    replication_oracles = {
        "dedup_clusters",
        "dedup_simhash",
        "ann_lsh_topk",
        "ivf_pq_topk",  # oracle composes the IVF assignment replication
        # with the PQ code/LUT O(n²) join — a correctness artifact
        "ann_ivf_topk",
        "phash_near_dup",  # Spark decodes real PNGs + DCT-hashes +
        # bands; the oracle replays the fixture's id arithmetic —
        # different work by construction
        "audio_near_dup",  # same class: Spark decodes real WAVs + FFT
        # rank-hashes + bands; the oracle replays id arithmetic
        "quality_classifier_score",  # oracle replays the hashed
        # featurization with per-gram md5 in SQL — a correctness
        # artifact; the engine side is broadcast-weights map-only
        "streaming_hamming_dedup",  # oracle replays the bucket/first-
        # seen semantics as a grouped SQL min — the engine runs the
        # real stateful streaming operator
        "multimodal_features",
        "resize_images",  # same class as multimodal_features: Spark
        # decodes real PNG bytes + gather/lerp, the oracle recomputes
        # the closed form — different work by construction
        "semantic_dedup_pairs",  # oracle runs 5 Lloyd iterations in SQL
        "dsir_select",  # oracle replicates hashed-ngram histograms +
        # Gumbel selection (per-gram md5 in SQL) — a correctness
        # artifact, not an analytics query
        "multimodal_audio",  # oracle regenerates the synthetic waveform
        # closed-form in SQL while Spark decodes real WAV bytes — the
        # two sides do different work by construction
        "quality_filter",  # oracle replicates the trigram LM train+score
        # as an O(total-bytes) three-way join — a correctness artifact;
        # the engine side is hash-agg + broadcast map-only scoring
        "perplexity_buckets",  # same trigram-LM replication oracle as
        # quality_filter, plus exact quantile_cont terciles
        "tfrecord_roundtrip",  # oracle is the identity SELECT while the
        # engine writes + CRC-frames + proto-encodes + reads back real
        # TFRecord shards — different work by construction
        "snapshot_delta",  # oracle re-derives per-row char-5-gram
        # Jaccard with O(text-length) SQL list ops (43s at sf0.1 vs the
        # engine's 3s) — a correctness artifact, not an analytics query
    }
    matched = [
        n for n in HEADLINE if n in oracles and n not in replication_oracles
    ]

    # extra matched pairs: dual-engine (identical-work) queries timed for
    # the apples-to-apples subset but NOT part of the driver's 50-slot
    # correctness gate — matched-subset breadth stays decoupled from the
    # 50-slot budget (r8: ann_cosine_topk rotated out of the gate for
    # ivf_pq_topk, plus three moderately-heavy TPC-H texts whose slots
    # rotated to operator queries in earlier rounds)
    shared_all = entrymod._shared_sql()
    text_spark = entrymod._text_sql("spark")
    text_duck = entrymod._text_sql("duckdb")
    extra_matched = {
        "ann_cosine_topk": (entrymod._ann_topk, entrymod._ANN_ORACLE),
        # r9 rotation: url_dedup + chunk_documents left the graded 50
        # (slots moved to phash_near_dup / stratified_sample); their
        # identical-work pairs stay timed here
        "url_dedup": (entrymod._url_dedup_q, entrymod._url_dedup_oracle()),
        "chunk_documents": (
            entrymod._chunk_documents_q,
            entrymod._chunk_documents_oracle(),
        ),
        # corpus_shards rotated out of the gate for tfrecord_roundtrip
        # (r8 second pass) — its shard-stat pair stays timed here
        "corpus_shards": (entrymod._corpus_shards, entrymod._shards_oracle()),
        # dialect-pair texts where DuckDB does >=0.25 s of real work at
        # sf0.1 — heavy-median buffer (both rotated out of the graded 50
        # in earlier rounds; identical semantics on both engines)
        # r10 rotation: text_doc_metrics left the graded 50 (slot moved
        # to pyramid_roundtrip); its identical-work dialect pair stays
        # timed here
        "text_doc_metrics": (
            entrymod._sql_query(text_spark["text_doc_metrics"]),
            text_duck["text_doc_metrics"],
        ),
        "dedup_ngram_signature": (
            entrymod._sql_query(text_spark["dedup_ngram_signature"]),
            text_duck["dedup_ngram_signature"],
        ),
        "text_fingerprints": (
            entrymod._sql_query(text_spark["text_fingerprints"]),
            text_duck["text_fingerprints"],
        ),
        "q1_pricing_summary": (
            entrymod._sql_query(shared_all["q1_pricing_summary"]),
            shared_all["q1_pricing_summary"],
        ),
        "q18_large_orders": (
            entrymod._sql_query(shared_all["q18_large_orders"]),
            shared_all["q18_large_orders"],
        ),
        "q9_product_profit": (
            entrymod._sql_query(shared_all["q9_product_profit"]),
            shared_all["q9_product_profit"],
        ),
        # r11 rotation: dedup_exact left the graded 50 (slot moved to
        # pipeline_spill_roundtrip); its identical-work dialect pair
        # stays timed here
        "dedup_exact": (
            entrymod._sql_query(text_spark["dedup_exact"]),
            text_duck["dedup_exact"],
        ),
    }
    bench_fns = {n: queries[n] for n in HEADLINE}
    for n, (fn, osql) in extra_matched.items():
        bench_fns[n] = fn
        oracles[n] = osql
        matched.append(n)
    # r13 (r12 verdict #3): perplexity_buckets rotated out of the graded
    # 50 in the pre-r12 slot rotation (its slot went to audio_near_dup);
    # keep the trigram-LM scoring wall cross-round comparable as a timed
    # Spark-side extra. Its DuckDB oracle is a replication oracle (see
    # replication_oracles above), so it deliberately does NOT join the
    # matched apples-to-apples subset.
    spark_only_extra = {"perplexity_buckets": entrymod._perplexity_buckets_q}
    bench_fns.update(spark_only_extra)

    # per-query latency: sequential, best-of-2 (both runs recorded so
    # run-to-run variance — the worker-churn signature — is visible in
    # the detail artifact). For matched queries the DuckDB oracle is
    # timed IMMEDIATELY after the Spark runs, with the 1-min loadavg
    # recorded per query, so the per-query ratio is load-honest.
    # drain self-load before the first timed query: the 50 MB zarr
    # pipeline section leaves 1-min load at 8-16 for a couple of minutes
    # (retiring python workers, JVM GC, writeback) and the battery's
    # FIRST query absorbed it both best-of-2 runs (r9: domain_cap_sample
    # read 4.59x vs DuckDB at recorded load 16.1; r8's quiet number was
    # 0.98x). Bounded wait + one untimed warm of the battery's first
    # query so position 1 is not special.
    # r11 verdict #1: 60 s was not enough — the gate started at load 28.5
    # and timed out at 10.6 (2.6x threshold), inflating seven query walls
    # 1.2-1.4x vs r10. 300 s drains a load of ~28 to ~4 (halving time
    # ~60 s); on a quiet box this costs nothing.
    battery_gate = _wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
        float(os.environ.get("SPARK_GRAFT_BATTERY_WAIT_S", "300")),
    )
    _materialize(bench_fns[HEADLINE[0]](spark, sf_dir))

    timings = {}
    runs = {}
    per_query = {}
    for name in list(HEADLINE) + list(extra_matched) + list(spark_only_extra):
        fn = bench_fns[name]
        load0 = _loadavg1()
        pair = []
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            pair.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(pair)
        runs[name] = pair
        if name in matched:
            dpair = []
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                dpair.append(round(time.perf_counter() - t0, 3))
            duck = min(dpair)
            per_query[name] = {
                "spark": timings[name],
                "duckdb": duck,
                "ratio": round(timings[name] / duck, 2) if duck else None,
                "load": load0,
            }

    _mark("query_battery_interleaved")

    # suite throughput: all headline queries submitted concurrently (FAIR
    # scheduler) — the engine-level wall-clock for the whole workload;
    # overlaps scheduler fixed costs exactly as a real multi-query workload
    # would
    from concurrent.futures import ThreadPoolExecutor

    # 16 submission threads: the FAIR scheduler on 32 cores starves below
    # ~16 concurrent jobs (measured 27s at 8 workers vs 18s at 16 for the
    # same warmed suite); beyond ~24 the gain flattens while python-worker
    # pressure grows
    # r13 (r12 verdict #1): the concurrent suite is the headline metric
    # and was the r12 stall victim (16 threads of fresh allocations all
    # faulting at once) — gate it like the battery instead of merely
    # recording the probe. The gate re-probes fault throughput
    # (bounded by _FAULT_POOL) and flips stall_phase if it starts cold.
    concurrent_gate = _wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
        float(os.environ.get("SPARK_GRAFT_CONCURRENT_WAIT_S", "120")),
    )
    concurrent_fault_gbps = concurrent_gate["fault_gbps"]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=16) as pool:
        list(
            pool.map(
                lambda name: _materialize(queries[name](spark, sf_dir)), HEADLINE
            )
        )
    concurrent_wall = round(time.perf_counter() - t0, 3)
    _mark("concurrent_suite")

    # aggregate the interleaved per-query measurements
    duck_total = sum(per_query[n]["duckdb"] for n in matched)
    duck_n = len(matched)
    spark_matched = sum(timings[n] for n in matched)

    def _median(vals):
        vals = sorted(vals)
        if not vals:
            return None
        return round((vals[len(vals) // 2] + vals[(len(vals) - 1) // 2]) / 2, 3)

    median_ratio = _median(
        [r["ratio"] for r in per_query.values() if r["ratio"] is not None]
    )
    # the subset where DuckDB does >=0.25s of real work: on the rest the
    # "ratio" compares Spark's per-job scheduling floor (~0.12s, measured
    # below) to DuckDB's sub-ms parse floor — a fixed-cost artifact of
    # tiny data, not engine throughput; it vanishes as data grows
    median_ratio_heavy = _median(
        [
            r["ratio"]
            for r in per_query.values()
            if r["ratio"] is not None and r["duckdb"] >= 0.25
        ]
    )

    # per-engine fixed-cost floors, measured in-run: the smallest
    # materializable unit on each engine (warm)
    floor_spark = None
    for _ in range(4):
        t0 = time.perf_counter()
        _materialize(spark.range(1))
        dt = time.perf_counter() - t0
        floor_spark = dt if floor_spark is None else min(floor_spark, dt)
    floor_duck = None
    for _ in range(4):
        t0 = time.perf_counter()
        con.execute("SELECT 1").fetchall()
        dt = time.perf_counter() - t0
        floor_duck = dt if floor_duck is None else min(floor_duck, dt)
    fixed_cost_floor = {
        "spark_min_job": round(floor_spark, 4),
        "duckdb_min_query": round(floor_duck, 5),
    }

    # fresh-vs-in-suite attribution summary
    attribution = {
        name: {
            "fresh": fresh_probe[name],
            "in_suite": timings[name],
            "ratio": round(timings[name] / fresh_probe[name], 2)
            if fresh_probe[name]
            else None,
        }
        for name in fresh_probe
    }

    # emission closure: rebuilds + rewrites the artifact and re-prints
    # the headline pair after EVERY completed section, so a hard kill
    # mid-run still leaves the latest complete sections parseable (the
    # driver reads the LAST stdout line under a capture timeout)
    scale_stress = None
    zarr_throughput = None
    sharded_saturation = None
    ivf_pq_s3 = None

    def _emit():
        try:
            loadavg = [round(v, 1) for v in os.getloadavg()]
        except OSError:
            loadavg = None

        detail = {
            "metric": "headline_suite_wall_concurrent",
            "value": concurrent_wall,
            "unit": "sec",
            # co-tenant load context: Spark walls on this box swing 1.5-2x
            # between quiet (load < 3) and loaded (load > 12) conditions;
            # the single-process DuckDB baseline is far less affected, so
            # the matched-subset ratio inherits the swing (measured 1.78
            # quiet vs 2.6-2.9 under load for the same code)
            "loadavg_1_5_15": loadavg,
            "loadavg_at_start": loadavg_at_start,
            "loadavg_at_invoke": loadavg_at_invoke,
            "start_gate": start_gate,
            "battery_gate": battery_gate,
            "gate_pool_left_s": round(_GATE_POOL[0], 1),
            "fault_pool_left_s": round(_FAULT_POOL[0], 1),
            "stall_phase": _STALL_SEEN[0],
            "concurrent_gate": concurrent_gate,
            "concurrent_fault_gbps": concurrent_fault_gbps,
            "section_walls": section_walls,
            "queries": timings,
            "query_runs": runs,
            "queries_mode": "sequential_best_of_2_interleaved_oracle",
            "sequential_total": round(sum(timings.values()), 3),
            "duckdb_oracle_wall": round(duck_total, 3),
            "duckdb_oracle_queries": duck_n,
            "spark_matched_subset_total": round(spark_matched, 3),
            "matched_subset_ratio": round(spark_matched / duck_total, 3)
            if duck_total
            else None,
            # the load-honest gate number: each query's oracle ran
            # back-to-back with its Spark timing, per-query load recorded
            "per_query_vs_duckdb": per_query,
            "median_query_ratio": median_ratio,
            "median_query_ratio_duck_ge_250ms": median_ratio_heavy,
            "fixed_cost_floor": fixed_cost_floor,
            "fresh_vs_in_suite": attribution,
            "zarr_pipeline": pipeline,
            "zarr_throughput_800mb": zarr_throughput,
            "sharded_saturation": sharded_saturation,
            "scale_stress": scale_stress,
            "ivf_pq_s3_serving": ivf_pq_s3,
            "sf": sf,
        }

        # full detail: to a file (survives any log truncation) and an early
        # stdout line (for humans reading the whole log)
        detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH_DETAIL.json")
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            detail_path = None
        print(json.dumps(detail))

        # the LAST stdout line is a SHORT headline record — the driver
        # captures only the tail of stdout, and round 3's single long line
        # was truncated past parseability (BENCH_r03 `parsed: null`). Keep
        # this line well under the ~1.9 KB tail window.
        print(
            json.dumps(
                {
                    "metric": "headline_suite_wall_concurrent",
                    "value": concurrent_wall,
                    "unit": "sec",
                    "queries": {k: round(v, 2) for k, v in timings.items()},
                    "sequential_total": round(sum(timings.values()), 2),
                    "matched_subset_ratio": round(spark_matched / duck_total, 3)
                    if duck_total
                    else None,
                    "median_query_ratio": median_ratio,
                    "median_ratio_heavy": median_ratio_heavy,
                    "zarr_mb_s": {
                        k: pipeline[k].get("mb_per_s")
                        for k in ("shuffled", "aligned", "sharded")
                        if k in pipeline and "mb_per_s" in pipeline[k]
                    },
                    "zarr_800mb_mb_s": {
                        k: v["mb_per_s"]
                        for k, v in (zarr_throughput or {}).items()
                        if isinstance(v, dict) and "mb_per_s" in v
                    }
                    or None,
                    "zarr_800mb_tax": (zarr_throughput or {}).get(
                        "shuffled_over_aligned_tax"
                    ),
                    "sharded_sat_ratio": (sharded_saturation or {}).get(
                        "sharded_over_chunked"
                    ),
                    "stress_growth": (scale_stress or {}).get("growth"),
                    "stall_phase": _STALL_SEEN[0],
                    "loadavg": loadavg,
                    "detail": "BENCH_DETAIL.json",
                    "sf": sf,
                },
                separators=(",", ":"),
            )
        )


    _emit()  # provisional: query gate + pipeline, heavy sections pending

    # 10x corpus growth check for the subquadratic dedup/ANN paths.
    # Drop the query storm's cached tables first: the stress section
    # persists 10x frames of its own, and running it against a block
    # manager already full of sf0.1 caches measures GC, not growth.
    spark.conf.set("spark.sql.shuffle.partitions", FULL_SP)
    if os.environ.get("SPARK_GRAFT_SCALE_STRESS", "1") != "0":
        spark.catalog.clearCache()
        # r11 verdict #1: this section ran ungated at loads 19-24 and the
        # minhash x10 first run read 39.9 s vs 8.2 s best-of; gate it
        # like the battery and record the gate in the section itself.
        stress_gate = _wait_for_quiet(
            float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
            float(os.environ.get("SPARK_GRAFT_STRESS_WAIT_S", "150")),
        )
        scale_stress = _bench_scale_stress(spark, sf_dir)
        scale_stress["load_gate"] = stress_gate
    else:
        scale_stress = None
    _mark("scale_stress")
    _emit()

    # ANN serving loop on the object store (s3 endpoint in-process)
    if os.environ.get("SPARK_GRAFT_BENCH_S3", "1") != "0":
        try:
            ivf_pq_s3 = _bench_ivf_pq_s3(spark, sf_dir)
        except Exception as e:  # the artifact must survive a section loss
            ivf_pq_s3 = {"error": repr(e)[:300]}
    _mark("ivf_pq_s3")
    _emit()

    # asymptotic zarr throughput (~800 MB; the 50 MB pipeline proxy is
    # job-overhead-bound, this measures the engine)
    if os.environ.get("SPARK_GRAFT_BENCH_TPUT", "1") != "0":
        # quiet-start gate (r7 verdict #6): the preceding sections leave
        # SELF-load (retiring python workers, JVM GC, writeback) that
        # inflates the first throughput runs and made r7's 800 MB tax
        # read 2.2 on a box that started at load 10. Wait for the 1-min
        # load to drain below the threshold (bounded wait — the bench
        # budget matters more than a perfect gate), and record what
        # happened so the artifact is load-annotated either way.
        load_gate = _wait_for_quiet(
            float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
            float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_S", "120")),
        )
        zarr_throughput = _bench_zarr_throughput(spark)
        zarr_throughput["load_gate"] = load_gate
        _mark("throughput_800mb")
        _emit()
        # r11 verdict #1: sharded ran ungated right after the 800 MB
        # writes (self-load ~20); its ratio is load-dominated without
        # this (r10/r11 spread 0.55-1.04 on identical code).
        sharded_gate = _wait_for_quiet(
            float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0")),
            float(os.environ.get("SPARK_GRAFT_SHARDED_WAIT_S", "120")),
        )
        sharded_saturation = _bench_sharded_saturation(spark)
        sharded_saturation["load_gate"] = sharded_gate
        _mark("sharded_saturation")
    else:
        zarr_throughput = None
        sharded_saturation = None
    _emit()




if __name__ == "__main__":
    main()
