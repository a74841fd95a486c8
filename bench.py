"""Benchmark harness: the end-to-end headline over the parquet tables at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on ``local[cpus]`` with
``cpus`` shuffle partitions, ``cpus`` being this process's CPU affinity.

Four sections, in this order:

1. the sequential battery: 46 queries (34 ``HEADLINE``, 11
   ``EXTRA_MATCHED``, ``perplexity_buckets``), each best-of-2 into a noop
   sink, with the DuckDB oracle of every matched query timed right after
   its Spark runs (the matched-subset ratio is a guard: ≤ 2 at sf0.1);
2. the concurrent suite: the 34 ``HEADLINE`` queries submitted from
   ``cpus`` threads to the FAIR scheduler — the headline ``value``;
3. ×10 stress growth of the dedup/ANN scale paths;
4. 800 MB ``store_to_zarr`` MB/s: npz shuffled / aligned / shuffled_refs
   / sharded variants, and the zarr-source spill / reference pair.

Nothing waits on host state; the artifact records it instead: the
environment once (``perfbench/procstat.environment``) and the host's
busy/idle/steal CPU shares per section. Every variant set is timed by
``time_variants``: one untimed warm run per variant, then rotating-order
rounds, min wall per variant.

After every completed section stdout carries two JSON lines: the full
detail record, then a SHORT headline line LAST (``headline``), sized to
survive tail-only log capture. The detail also goes to BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import __spark_entry__ as entrymod  # noqa: E402
import procstat  # noqa: E402
from pangeo_forge_recipes_spark.session import get_spark  # noqa: E402

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
    "phash_near_dup",
    "quality_classifier_score",
    "stratified_sample",
    "streaming_hamming_dedup",
]

# Identical-work dual-engine pairs of the catalog timed for the matched
# subset but outside the graded 50 (both engines run the same semantics).
# Order is battery order.
EXTRA_MATCHED = (
    "ann_cosine_topk",
    "url_dedup",
    "chunk_documents",
    "corpus_shards",
    "text_doc_metrics",
    "dedup_ngram_signature",
    "text_fingerprints",
    "q1_pricing_summary",
    "q18_large_orders",
    "q9_product_profit",
    "dedup_exact",
)

# Timed on Spark only: its DuckDB oracle is a replication oracle (below),
# so it stays out of the matched subset.
SPARK_ONLY = ("perplexity_buckets",)

# HEADLINE queries whose DuckDB oracle does different work from the
# engine: correctness artifacts written for the sf0.01 gate (O(n²)
# all-pairs replications, closed-form regenerations of decoded media,
# SQL replays of hashed featurization), so at sf0.1 they time the oracle,
# not the engine. The matched subset is the rest.
REPLICATION_ORACLES = {
    "dedup_clusters",
    "dedup_simhash",
    "ann_lsh_topk",
    "ivf_pq_topk",  # IVF assignment replication + PQ code/LUT O(n²) join
    "ann_ivf_topk",
    "phash_near_dup",  # Spark decodes real PNGs + DCT-hashes + bands; the
    # oracle replays the fixture's id arithmetic
    "audio_near_dup",  # Spark decodes real WAVs + FFT rank-hashes + bands
    "quality_classifier_score",  # hashed featurization with per-gram md5
    "streaming_hamming_dedup",  # grouped SQL min vs the stateful stream
    "multimodal_features",
    "resize_images",  # Spark decodes PNG bytes + gather/lerp; the oracle
    # recomputes the closed form
    "semantic_dedup_pairs",  # 5 Lloyd iterations in SQL
    "dsir_select",  # hashed-ngram histograms + Gumbel selection in SQL
    "multimodal_audio",  # closed-form waveform vs decoded WAV bytes
    "quality_filter",  # trigram LM train+score as a three-way join
    "perplexity_buckets",  # same LM replication + exact terciles
    "tfrecord_roundtrip",  # identity SELECT vs real TFRecord write+read
    "snapshot_delta",  # per-row char-5-gram Jaccard with SQL list ops
}


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_session(app_name: str):
    """(spark, cpus): a ``local[cpus]`` session with ``cpus`` shuffle
    partitions, ``cpus`` being this process's CPU affinity — the shape
    ``procstat.environment`` describes."""
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=app_name, master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    return spark, cpus


def warm_session(spark, sf_dir: str) -> None:
    """Untimed warm-up before any timing: register and materialize every
    cached table (no measured query absorbs cache fill), pay the noop
    sink's first use, and fork the Python worker pool at full width
    (mapInPandas queries otherwise pay the spawn on their first run)."""
    entrymod._register(spark, sf_dir)
    for t in entrymod.TABLES:
        try:
            spark.table(t).count()
        except Exception:
            pass
    _materialize(spark.range(8))
    width = spark.sparkContext.defaultParallelism
    _materialize(
        spark.range(64).repartition(width).mapInPandas(lambda it: it, "id long")
    )


def time_variants(run, labels, rounds: int = 3) -> dict:
    """{label: [wall, ...]} for ``run(label) -> wall seconds``.

    One untimed warm run per label first: each variant is its own stage
    shape, and its first heavy run pays Python-worker spawn and JIT
    warm-up (3-4x), so a single shared warm leaves the other variants'
    first timed runs inflated. Then ``rounds`` rounds in rotating order,
    so no variant always runs first or last. Compare MIN walls: stalls
    (writeback, co-tenants) only ever inflate a wall, so the min over
    equal, interleaved run counts is the stall-free comparator."""
    labels = list(labels)
    for label in labels:
        run(label)
    walls = {label: [] for label in labels}
    for rnd in range(rounds):
        k = rnd % len(labels)
        for label in labels[k:] + labels[:k]:
            walls[label].append(round(run(label), 3))
    return walls


def _wall(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _median(vals):
    vals = sorted(vals)
    if not vals:
        return None
    return round((vals[len(vals) // 2] + vals[(len(vals) - 1) // 2]) / 2, 3)


def _scratch_root() -> str | None:
    """/dev/shm when tmpfs and MemAvailable leave room for the 800 MB
    section's ~2.5 GB of sources and stores beside a heap that may still
    grow to ``spark.driver.memory`` (tmpfs pages are RAM), else the
    default temp dir. Called after the session is up; its heap starts
    small, so a 15 GB host (6.4 GB heap ceiling) has ~15 GB available
    here and writes the stores to tmpfs. ``environment.stores_on`` records
    which."""
    try:
        ok = (
            shutil.disk_usage("/dev/shm").free > 5 * 1024**3
            and procstat._meminfo_kb("MemAvailable") > 10 * 1024**2
        )
    except OSError:
        ok = False
    return "/dev/shm" if ok else None


def _extra_matched() -> dict:
    """name -> (Spark query fn, DuckDB SQL) for ``EXTRA_MATCHED``."""
    table = entrymod._catalog()
    return {n: table[n] for n in EXTRA_MATCHED}


def _bench_zarr_800mb(spark, work: str, cpus: int) -> dict:
    """Write throughput at ~800 MB, where per-job fixed costs stop
    dominating, over 32 npz files of 8 time steps (32 files give the
    file-aligned variant as many write tasks as a 32-core host has
    cores; on fewer cores every variant still fills the session).

    npz set, one rotation: ``shuffled`` (spill rechunk to 32-step
    chunks, straddling files), ``aligned`` (8-step chunks, the
    zero-shuffle path), ``shuffled_refs`` (the metadata-only exchange)
    and ``sharded`` (16-step chunks in 32-step shards: the same stored-
    object grid as ``shuffled``, so ``sharded_over_chunked`` is the shard
    container encode against the raw chunk encode).

    zarr-source pair: the same data as 32 chunk-lazy zarr stores, where
    spill mode reads every source whole and ships the corpus through the
    exchange and scratch, while reference mode shuffles (group_key, url)
    rows and each write task range-reads exactly its group's chunks.

    Every run is followed by sync + store removal (the next run must not
    pay this one's dirty pages); fixture synthesis is thread-pooled and
    not measured."""
    import itertools
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
    from pangeo_forge_recipes_spark.dsio import schema_to_zarr, write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
    from pangeo_forge_recipes_spark.zarrio import open_group

    nt, nlat, nlon, per = 256, 360, 720, 8
    tmp = tempfile.mkdtemp(prefix="pfrs_800mb_", dir=work)

    def mk_file(i: int) -> tuple:
        # per-file seeds keep the corpus independent of thread scheduling
        frng = np.random.RandomState(7 + i)
        ds = NDDataset(
            {
                "foo": Variable(
                    ("time", "lat", "lon"), frng.standard_normal((per, nlat, nlon))
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
        npz = os.path.join(tmp, f"f{i}.npz")
        write_npz(npz, ds)
        zp = os.path.join(tmp, f"zsrc{i}.zarr")
        g = open_group(
            schema_to_zarr(dataset_to_schema(ds), zp, target_chunks={"time": per})
        )
        for name, var in {**ds.coords, **ds.data_vars}.items():
            g[name][tuple(slice(0, s) for s in var.data.shape)] = var.data
        return npz, zp

    with ThreadPoolExecutor(max_workers=cpus) as pool:
        files = list(pool.map(mk_file, range(nt // per)))
    npz_pattern = pattern_from_file_sequence(
        [f[0] for f in files], "time", nitems_per_file=per, file_type="npz"
    )
    zarr_pattern = pattern_from_file_sequence(
        [f[1] for f in files], "time", nitems_per_file=per, file_type="zarr"
    )
    counter = itertools.count()
    nbytes = {}

    def runner(pattern, variants):
        def run(label) -> float:
            name = f"{label}{next(counter)}.zarr"
            t0 = time.perf_counter()
            res = store_to_zarr(spark, pattern, tmp, name, **variants[label])
            wall = time.perf_counter() - t0
            # every variant but the file-aligned one takes the rechunk shuffle
            assert res.shuffled == (label != "aligned"), label
            nbytes[label] = res.bytes_written
            os.sync()
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            os.sync()
            return wall

        return run

    chunks32 = {"target_chunks": {"time": 32}}
    npz_variants = {
        "shuffled": {**chunks32, "rechunk_shuffle": "spill"},
        "aligned": {"target_chunks": {"time": per}},
        "shuffled_refs": {**chunks32, "rechunk_shuffle": "reference"},
        "sharded": {
            "target_chunks": {"time": 16},
            "target_shards": {"time": 32},
            "rechunk_shuffle": "spill",
        },
    }
    zarr_variants = {
        "spill": {**chunks32, "rechunk_shuffle": "spill"},
        "reference": {**chunks32, "rechunk_shuffle": "reference"},
    }
    try:
        walls = time_variants(runner(npz_pattern, npz_variants), npz_variants)
        walls.update(
            time_variants(runner(zarr_pattern, zarr_variants), zarr_variants)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def row(label):
        wall = min(walls[label])
        return {
            "wall": round(wall, 2),
            "runs": walls[label],
            "mb_written": round(nbytes[label] / 1e6),
            "mb_per_s": round(nbytes[label] / 1e6 / wall, 1),
        }

    def ratio(a, b):
        return round(min(walls[a]) / min(walls[b]), 2)

    out = {label: row(label) for label in npz_variants}
    out["shuffled_over_aligned_tax"] = ratio("shuffled", "aligned")
    out["sharded_over_chunked"] = ratio("shuffled", "sharded")
    out["reference_mode_lazy"] = {
        **{label: row(label) for label in zarr_variants},
        "reference_over_spill_speedup": ratio("spill", "reference"),
    }
    return out


def _bench_scale_stress(spark, work: str, sf_dir: str, factor: int = 10) -> dict:
    """Subquadratic-growth check: run the designated scale paths of the
    dedup/ANN family at 1x and ``factor``x the documents / embeddings
    corpus and report wall growth = min x``factor`` wall / min x1 wall,
    both sides timed by ``time_variants`` (warm each, then two
    alternating-order rounds).

    The scaled corpus is ``factor`` disjoint replicas — texts get a
    per-replica alphabet rotation (disjoint shingle spaces), embeddings a
    per-replica cyclic shift (cosine structure preserved within a replica,
    decorrelated across replicas) — so the TRUE near-dup structure grows
    exactly linearly and any superlinear wall growth is the engine's.
    """
    import string

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
        # are disjoint — no cross-replica LSH collisions
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

    scales = (1, factor)
    out = {}
    # materialize both corpora up front (untimed), repartitioned to the
    # session width: the scaled frame otherwise inherits the source
    # parquet's handful of partitions and starves the signature/GEMM stages
    width = spark.sparkContext.defaultParallelism
    corp = {}
    for f in scales:
        d = scaled_docs(f).repartition(width).persist()
        e = scaled_embs(f).repartition(width).persist()
        corp[f] = {"d": d, "e": e, "n_docs": d.count(), "n_vecs": e.count()}
        out[f"x{f}"] = {"n_docs": corp[f]["n_docs"], "n_vecs": corp[f]["n_vecs"]}

    def nlist_for(f):
        # IVF practice: nlist grows with the corpus so inverted-list
        # length (and so candidates per query) stays constant —
        # self-search with a FIXED nlist is inherently quadratic
        return max(16, corp[f]["n_vecs"] // 125)

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
        _materialize(dedup_clusters(corp[f]["d"], pairs_by_f[f][0]))

    def run_semantic(f):
        _materialize(semantic_dedup(corp[f]["e"], k=16, threshold=0.99))

    def run_ivf(f):
        _materialize(
            ivf_topk(corp[f]["e"], k=3, nprobe=4, n_centroids=nlist_for(f))
        )

    # persisted-index serving: BUILD untimed per scale (the build-once
    # premise), then time a fixed 100-query batch — with nlist growing
    # with the corpus, a query probes nprobe lists of ~constant length and
    # file-level partition pruning keeps the scan at O(nprobe/nlist) of
    # the index bytes, so query wall should grow FAR slower than the corpus
    idx_paths = {}
    for f in scales:
        idx_paths[f] = os.path.join(work, f"ivfpq_x{f}")
        build_ivf_pq_index(
            corp[f]["e"], idx_paths[f], n_centroids=nlist_for(f), m=8, nbits=4
        )
    q100 = embs0.orderBy("vec_id").limit(100).persist()
    q100.count()

    def run_index_query(f):
        _materialize(query_ivf_pq_index(spark, idx_paths[f], q100, k=3, nprobe=4))

    ops = {
        "minhash_dedup": run_minhash,
        "dedup_clusters": run_clusters,
        "semantic_dedup": run_semantic,
        "ann_ivf_topk": run_ivf,
        "ivf_pq_index_query": run_index_query,
    }
    runs = {
        op: time_variants(lambda f, fn=fn: _wall(fn, f), scales, rounds=2)
        for op, fn in ops.items()
    }
    for f in scales:
        row = out[f"x{f}"]
        for op in ops:
            row[op] = min(runs[op][f])
        row["n_pairs"] = pairs_by_f[f][1]
        row["ivf_nlist"] = nlist_for(f)
    out["runs"] = {op: {f"x{f}": w[f] for f in scales} for op, w in runs.items()}
    out["growth"] = {
        op: round(min(w[factor]) / min(w[1]), 2) for op, w in runs.items()
    }
    for f in scales:
        pairs_by_f[f][0].unpersist()
        corp[f]["d"].unpersist()
        corp[f]["e"].unpersist()
    q100.unpersist()
    out["note"] = (
        f"growth = min x{factor} wall / min x1 wall, each side warmed once "
        f"then timed in two alternating-order rounds; linear scaling = "
        f"{factor}.0, sublinear < {factor}.0"
    )
    return out


def headline(detail: dict) -> str:
    """The LAST stdout line: a short record for a capture that keeps only
    the tail of stdout (round 3's single long line was truncated past
    parseability, BENCH_r03 ``parsed: null``). Must stay ≤ 1,900 bytes
    with every section filled in; sections not yet run are ``None``."""
    tput = detail.get("zarr_throughput_800mb") or {}
    return json.dumps(
        {
            "metric": detail["metric"],
            "value": detail["value"],
            "unit": detail["unit"],
            "queries": {k: round(v, 2) for k, v in detail["queries"].items()},
            "sequential_total": round(detail["sequential_total"], 2),
            "matched_subset_ratio": detail["matched_subset_ratio"],
            "median_query_ratio": detail["median_query_ratio"],
            "median_ratio_heavy": detail["median_query_ratio_duck_ge_250ms"],
            "zarr_800mb_mb_s": {
                k: v["mb_per_s"]
                for k, v in tput.items()
                if isinstance(v, dict) and "mb_per_s" in v
            }
            or None,
            "zarr_800mb_tax": tput.get("shuffled_over_aligned_tax"),
            "stress_growth": (detail.get("scale_stress") or {}).get("growth"),
            "detail": "BENCH_DETAIL.json",
            "sf": detail["sf"],
        },
        separators=(",", ":"),
    )


def _emit(detail: dict) -> None:
    """Rewrite the artifact and re-print the JSON pair: run after every
    completed section, so a kill mid-run still leaves the completed
    sections parseable."""
    try:
        with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    print(headline(detail), flush=True)


def _run(spark, cpus: int, sf_dir: str, sf: float, work: str) -> None:
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    detail = {
        "metric": "headline_suite_wall_concurrent",
        "unit": "sec",
        "environment": {
            **procstat.environment(ROOT, work, cpus, spark.conf.get("spark.driver.memory")),
            "jvm_input_arguments": list(
                spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments()
            ),
        },
        "section_walls": {},
        "section_host_cpu": {},
        "sf": sf,
    }
    last = [time.perf_counter(), procstat.host_cpu_ticks()]

    def mark(section: str) -> None:
        # wall and host busy/idle/steal shares since the previous mark
        now, ticks = time.perf_counter(), procstat.host_cpu_ticks()
        detail["section_walls"][section] = round(now - last[0], 1)
        detail["section_host_cpu"][section] = {
            k: round(v, 3) for k, v in procstat.host_cpu_shares(last[1], ticks).items()
        }
        last[:] = [now, ticks]

    warm_session(spark, sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fns = {n: queries[n] for n in HEADLINE}
    matched = [n for n in HEADLINE if n in oracles and n not in REPLICATION_ORACLES]
    for n, (fn, osql) in _extra_matched().items():
        fns[n], oracles[n] = fn, osql
        matched.append(n)
    fns["perplexity_buckets"] = entrymod._catalog()["perplexity_buckets"][0]
    # one untimed run of the battery's first query so position 1 is not special
    _materialize(fns[HEADLINE[0]](spark, sf_dir))
    mark("warmup")

    # sequential battery: best-of-2 per query (both runs recorded), each
    # matched query's DuckDB oracle timed IMMEDIATELY after its Spark runs
    # so both sides of a per-query ratio see the same host state
    timings, runs, per_query = {}, {}, {}
    for name in [*HEADLINE, *EXTRA_MATCHED, *SPARK_ONLY]:
        # the DataFrame is rebuilt inside every timed run: re-executing one
        # plan instance would reuse its shuffle outputs
        pair = [
            round(_wall(lambda: _materialize(fns[name](spark, sf_dir))), 3)
            for _ in range(2)
        ]
        timings[name], runs[name] = min(pair), pair
        if name in matched:
            duck = min(
                _wall(lambda: con.execute(oracles[name]).fetchall())
                for _ in range(2)
            )
            per_query[name] = {
                "spark": timings[name],
                "duckdb": round(duck, 3),
                "ratio": round(timings[name] / duck, 2) if duck else None,
            }
    mark("query_battery")

    # concurrent suite: one submission thread per core keeps ``cpus``
    # jobs in flight on the FAIR scheduler
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=cpus) as pool:
        list(pool.map(lambda n: _materialize(queries[n](spark, sf_dir)), HEADLINE))
    concurrent_wall = round(time.perf_counter() - t0, 3)
    mark("concurrent_suite")

    duck_total = sum(per_query[n]["duckdb"] for n in matched)
    spark_matched = sum(timings[n] for n in matched)
    ratios = [r["ratio"] for r in per_query.values() if r["ratio"] is not None]
    # the subset where DuckDB does >= 0.25 s of real work: on the rest the
    # ratio compares Spark's per-job scheduling floor to DuckDB's sub-ms
    # parse floor — a fixed-cost artifact of tiny data
    heavy = [
        r["ratio"]
        for r in per_query.values()
        if r["ratio"] is not None and r["duckdb"] >= 0.25
    ]
    # per-engine fixed-cost floors: the smallest materializable unit, warm
    floor_spark = min(_wall(_materialize, spark.range(1)) for _ in range(4))
    floor_duck = min(
        _wall(lambda: con.execute("SELECT 1").fetchall()) for _ in range(4)
    )
    detail.update(
        {
            "value": concurrent_wall,
            "queries": timings,
            "query_runs": runs,
            "queries_mode": "sequential_best_of_2_interleaved_oracle",
            "sequential_total": round(sum(timings.values()), 3),
            "duckdb_oracle_wall": round(duck_total, 3),
            "duckdb_oracle_queries": len(matched),
            "spark_matched_subset_total": round(spark_matched, 3),
            "matched_subset_ratio": round(spark_matched / duck_total, 3)
            if duck_total
            else None,
            "per_query_vs_duckdb": per_query,
            "median_query_ratio": _median(ratios),
            "median_query_ratio_duck_ge_250ms": _median(heavy),
            "fixed_cost_floor": {
                "spark_min_job": round(floor_spark, 4),
                "duckdb_min_query": round(floor_duck, 5),
            },
            "scale_stress": None,
            "zarr_throughput_800mb": None,
        }
    )
    _emit(detail)  # provisional: the heavy sections are still pending

    # the stress section persists 10x frames of its own; against a block
    # manager still full of the battery's caches it would measure GC
    spark.catalog.clearCache()
    detail["scale_stress"] = _bench_scale_stress(spark, work, sf_dir)
    mark("scale_stress")
    _emit(detail)

    detail["zarr_throughput_800mb"] = _bench_zarr_800mb(spark, work, cpus)
    mark("zarr_800mb")
    _emit(detail)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    spark, cpus = bench_session("pfrs-bench")
    work = tempfile.mkdtemp(prefix="pfrs_bench_", dir=_scratch_root())
    try:
        _run(spark, cpus, sf_dir, float(m.group(1)) if m else 0.0, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
