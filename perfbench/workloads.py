"""The four workloads: seeded set-up, one operation, the output check and
the traced per-stage breakdown.

An operation is what a user of the package runs once per recipe bake or
query. ``op`` must leave nothing behind that changes the next call's work:
every call writes to a fresh target, which ``discard`` removes outside the
timed region.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import shutil
import time
from typing import Dict, List

import numpy as np

import fixtures

QUERIES = (
    "quality_classifier_score",
    "gopher_c4_filter",
    "resize_images",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mismatch(name: str, got: np.ndarray, want: np.ndarray) -> List[str]:
    got = np.asarray(got)
    if got.shape != want.shape or got.dtype != want.dtype:
        return [f"{name}: {got.dtype}{got.shape} != {want.dtype}{want.shape}"]
    bad = int(np.count_nonzero(got != want))
    return [f"{name}: {bad} elements differ"] if bad else []


def _prefix(tracer, walls: Dict[str, float], stage: str, fn):
    """Run one breakdown prefix with its jobs labelled ``stage``; record
    its wall in ``walls``."""
    tracer.label(stage)
    t0 = time.perf_counter()
    out = tracer.span(f"prefix.{stage}", fn)
    walls[stage] = time.perf_counter() - t0
    return out


def check_dataset(ds, expected: Dict[str, np.ndarray], label: str) -> List[str]:
    """Exact comparison of every expected variable of an opened dataset."""
    errors = []
    for name, want in expected.items():
        if name not in ds.data_vars:
            errors.append(f"{label}: variable {name} missing")
            continue
        errors += _mismatch(f"{label}.{name}", ds.data_vars[name].data, want)
    return errors


class Workload:
    name = ""
    input_mb = 0.0
    # untimed operations between the checked warm operation and timing
    settle_ops = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self.out = os.path.join(work_dir, "out")
        os.makedirs(self.out, exist_ok=True)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, tracer, i: int):
        raise NotImplementedError

    def first_op(self, spark, tracer):
        """The untimed warm operation whose output ``check`` inspects."""
        return self.op(spark, tracer, 0)

    def check(self, spark, result) -> List[str]:
        raise NotImplementedError

    def discard(self, result) -> None:
        pass

    def breakdown(self, spark, tracer) -> dict:
        """Workload-specific per-stage table of the traced run."""
        return {}


# ---------------------------------------------------------------------------
# Zarr pipeline workloads
# ---------------------------------------------------------------------------


class _Pipeline(Workload):
    target: Dict[str, int] = {}
    compressor = None

    def discard(self, result) -> None:
        for path in result.values():
            shutil.rmtree(path, ignore_errors=True)

    def _store(self, spark, i: int):
        from pangeo_forge_recipes_spark import transforms

        return transforms.store_to_zarr(
            spark, self.pattern, self.out, f"store_{i}.zarr",
            target_chunks=self.target, compressor=self.compressor,
        )

    def pipeline_breakdown(self, spark, tracer, mode: str) -> dict:
        """Cumulative prefixes of the rechunk pipeline into cheap sinks;
        a stage's self time is the difference of consecutive prefixes.
        Mirrors the stage sequence of ``store_to_zarr``."""
        from pyspark.sql import functions as F

        from pangeo_forge_recipes_spark import transforms as T

        sess = spark.newSession()
        sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        nparts = int(sess.conf.get("spark.sql.shuffle.partitions"))
        path = os.path.join(self.out, "breakdown.zarr")
        ft = self.pattern.file_type
        walls: Dict[str, float] = {}
        counts: Dict[str, float] = {}
        timed = functools.partial(_prefix, tracer, walls)
        tracer.tag = "bd"
        manifest = T.manifest_df(sess, self.pattern)
        timed("manifest", lambda: _noop(manifest))
        counts["manifest.rows"] = len(list(self.pattern.items()))
        schema = timed(
            "schema_pass",
            lambda: T.determine_schema(T.read_schemas_df(manifest, ft), self.pattern.combine_dim_keys),
        )
        counts["schema_pass.files"] = counts["manifest.rows"]
        timed("template", lambda: T.schema_to_zarr(
            schema, path, target_chunks=self.target, compressor=self.compressor))
        indexed = T.index_items(manifest, schema)
        if mode == "payload":
            split = T.open_split_fragments_df(indexed, ft, target_chunks=self.target, schema=schema)
            size = F.length("payload")
            exchanged = split.repartition(nparts, "group_key")
            full = T.rechunk_and_store(split, path)
        else:
            split = T.open_split_refs_df(indexed, ft, target_chunks=self.target, schema=schema)
            size = F.length("group_key") + F.length("index") + F.length("url")
            exchanged = split.repartitionByRange(nparts, "group_key").sortWithinPartitions("group_key")
            full = T.rechunk_refs_and_store(split, path, file_type=ft, target_chunks=self.target, schema=schema)
        row = timed("split", lambda: split.agg(F.count("*"), F.sum(size)).collect()[0])
        counts["split.rows"], counts["split.payload_mb"] = row[0], (row[1] or 0) / 1e6
        timed("exchange", lambda: _noop(exchanged))
        row = timed("combine_write", lambda: full.agg(F.count("*"), F.sum("nbytes")).collect()[0])
        counts["combine_write.chunks"], counts["combine_write.mb"] = row[0], row[1] / 1e6

        def consolidate():
            T._consolidate_coords(path)
            T._consolidate_metadata(path)

        timed("consolidate", consolidate)
        shutil.rmtree(path, ignore_errors=True)
        order = ["manifest", "schema_pass", "template", "split", "exchange", "combine_write", "consolidate"]
        prefix_of = {"split": "manifest", "exchange": "split", "combine_write": "exchange"}
        self_s = {
            s: walls[s] - walls[prefix_of[s]] if s in prefix_of else walls[s] for s in order
        }
        return {"mode": mode, "prefix_wall_s": walls, "self_s": self_s, "counts": counts,
                "prefix_of": prefix_of}


class RechunkZarr(_Pipeline):
    name = "rechunk_zarr"
    target = fixtures.RECHUNK_TARGET
    input_mb = (
        fixtures.RECHUNK_FILES * fixtures.RECHUNK_STEPS
        * fixtures.RECHUNK_LAT * fixtures.RECHUNK_LON * (8 + 4) / 1e6
    )

    def setup(self, spark) -> None:
        from pangeo_forge_recipes_spark import pattern_from_file_sequence

        paths = fixtures.write_rechunk_sources(self.seed, os.path.join(self.work, "src"))
        self.pattern = pattern_from_file_sequence(
            paths, "time", nitems_per_file=fixtures.RECHUNK_STEPS, file_type="zarr"
        )
        self.expected = fixtures.rechunk_arrays(self.seed)

    def op(self, spark, tracer, i: int):
        return {"store": self._store(spark, i).path}

    def check(self, spark, result) -> List[str]:
        from pangeo_forge_recipes_spark.dsio import open_zarr_group
        from pangeo_forge_recipes_spark.zarrio import open_group

        errors = check_dataset(open_zarr_group(result["store"]), self.expected, "store")
        chunks = open_group(result["store"])["a"].chunks
        if chunks[0] != self.target["time"]:
            errors.append(f"store.a chunks {chunks} not rechunked to time={self.target['time']}")
        return errors

    def breakdown(self, spark, tracer) -> dict:
        return {"pipeline": self.pipeline_breakdown(spark, tracer, "reference")}


class DailyNetcdf4(_Pipeline):
    name = "daily_netcdf4"
    target = fixtures.DAILY_TARGET
    compressor = "zstd"
    input_mb = fixtures.DAILY_FILES * fixtures.DAILY_LAT * fixtures.DAILY_LON * 4 * 2 / 1e6

    def setup(self, spark) -> None:
        from pangeo_forge_recipes_spark import pattern_from_file_sequence

        paths = fixtures.write_daily_netcdf4(self.seed, os.path.join(self.work, "src"))
        self.pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="netcdf4")
        self.expected = fixtures.daily_arrays(self.seed)

    def op(self, spark, tracer, i: int):
        from pangeo_forge_recipes_spark import transforms

        store = self._store(spark, i).path
        ref = transforms.write_combined_reference(spark, self.pattern, self.out, f"refs_{i}")
        return {"store": store, "reference": os.path.dirname(ref)}

    def check(self, spark, result) -> List[str]:
        from pangeo_forge_recipes_spark.dsio import open_zarr_group
        from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset

        errors = check_dataset(open_zarr_group(result["store"]), self.expected, "store")
        ref = os.path.join(result["reference"], "reference.json")
        return errors + check_dataset(open_reference_dataset(ref), self.expected, "reference")

    def breakdown(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from pangeo_forge_recipes_spark import kerchunkio
        from pangeo_forge_recipes_spark import transforms as T

        out = {"pipeline": self.pipeline_breakdown(spark, tracer, "payload")}
        ft = self.pattern.file_type
        walls: Dict[str, float] = {}
        timed = functools.partial(_prefix, tracer, walls)
        refs = T.open_with_kerchunk_df(T.manifest_df(spark, self.pattern), ft, concat_dims=["time"])
        row = timed("refs_scan", lambda: refs.agg(F.count("*"), F.sum(F.length("refs"))).collect()[0])
        combined = timed("refs_merge", lambda: T.combine_references_df(refs, ["time"]))
        path = os.path.join(self.out, "breakdown_refs", "reference.json")
        timed("refs_write", lambda: kerchunkio.write_reference_json(combined, path))
        out["references"] = {
            "prefix_wall_s": walls,
            "self_s": {
                "refs_scan": walls["refs_scan"],
                "refs_merge": walls["refs_merge"] - walls["refs_scan"],
                "refs_write": walls["refs_write"],
            },
            "counts": {"refs.files": row[0], "refs.scan_json_mb": (row[1] or 0) / 1e6,
                       "refs.json_mb": os.path.getsize(path) / 1e6},
            "prefix_of": {"refs_merge": "refs_scan"},
        }
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        return out


# ---------------------------------------------------------------------------
# readers: the Zarr DataSource over a store and over a kerchunk reference
# ---------------------------------------------------------------------------


class ZarrScan(Workload):
    name = "zarr_scan"
    # the pruned query keeps the middle 10-day slab of the archive
    window = (10, 20)

    def _window_times(self):
        day0 = dt.datetime(2000, 1, 1)
        return tuple(day0 + dt.timedelta(days=d) for d in self.window)

    def setup(self, spark) -> None:
        """A daily archive, its Zarr store (time=10, zstd) and its
        kerchunk reference, written with the package's own serial writers."""
        from pangeo_forge_recipes_spark.aggregation import combine_xarray_schemas, dataset_to_schema
        from pangeo_forge_recipes_spark.dsio import (
            consolidate_dimension_coordinates,
            schema_to_zarr,
            store_dataset_fragment,
        )
        from pangeo_forge_recipes_spark.hdf5io import read_hdf5, scan_hdf5
        from pangeo_forge_recipes_spark.kerchunkio import combine_references, write_reference_json
        from pangeo_forge_recipes_spark.ndset import concat
        from pangeo_forge_recipes_spark.types import CombineOp, Dimension, Index, IndexedPosition
        from pangeo_forge_recipes_spark.zarrio import consolidate_metadata

        nfiles = fixtures.SCAN_FILES
        paths = fixtures.write_daily_netcdf4(self.seed, os.path.join(self.work, "src"), nfiles)
        self.expected = fixtures.daily_arrays(self.seed, nfiles)
        self.store = os.path.join(self.out, "daily.zarr")
        step = fixtures.SCAN_TARGET["time"]
        days = [read_hdf5(p) for p in paths]
        schema = None
        for ds in days:
            schema = combine_xarray_schemas(schema, dataset_to_schema(ds), "time")
        schema["chunks"] = {"time": {i: 1 for i in range(len(days))}}
        schema_to_zarr(schema, self.store, target_chunks=fixtures.SCAN_TARGET, compressor="zstd")
        dim = Dimension("time", CombineOp.CONCAT)
        for start in range(0, len(days), step):
            chunk = concat(days[start : start + step], "time")
            index = Index({dim: IndexedPosition(start, dimsize=len(days))})
            store_dataset_fragment((index, chunk), self.store)
        consolidate_dimension_coordinates(self.store)
        consolidate_metadata(self.store)
        refs = combine_references([scan_hdf5(p) for p in paths], ["time"])
        self.reference = write_reference_json(refs, os.path.join(self.out, "refs", "reference.json"))
        self.input_mb = self.expected["tas"].nbytes * 2 / 1e6

    def _queries(self):
        from pyspark.sql import functions as F

        from pangeo_forge_recipes_spark.sources import zarr_source

        aggs = [F.count("*").alias("n")]
        for v in ("pr", "tas"):
            aggs += [F.sum(v).alias(f"sum_{v}"), F.min(v).alias(f"min_{v}"), F.max(v).alias(f"max_{v}")]
        t0, t1 = self._window_times()
        return {
            "full": lambda s: zarr_source.read_zarr(s, self.store).agg(*aggs),
            "pruned": lambda s: zarr_source.read_zarr(s, self.store)
            .filter((F.col("time") >= F.lit(t0)) & (F.col("time") < F.lit(t1))).agg(*aggs),
            "virtual": lambda s: zarr_source.read_zarr(s, self.reference).agg(*aggs),
        }

    def op(self, spark, tracer, i: int):
        out = {}
        for q, build in self._queries().items():
            tracer.label(f"scan.{q}")
            out[q] = tracer.span(f"scan.{q}", lambda: build(spark).collect()[0].asDict())
        return out

    def _expected_row(self, sl: slice) -> dict:
        row = {"n": self.expected["tas"][sl].size}
        for v in ("pr", "tas"):
            a = self.expected[v][sl]
            row.update({f"sum_{v}": float(a.astype(np.float64).sum()),
                        f"min_{v}": float(a.min()), f"max_{v}": float(a.max())})
        return row

    def slab_counts(self):
        """(slabs planned for the full scan, slabs read by the pruned
        query), from the reader's own planning."""
        from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

        from pangeo_forge_recipes_spark.sources.zarr_source import ZarrDataSource

        source = ZarrDataSource({"path": self.store})
        full = source.reader(source.schema())
        pruned = source.reader(source.schema())
        t0, t1 = self._window_times()
        list(pruned.pushFilters([GreaterThanOrEqual(("time",), t0), LessThan(("time",), t1)]))
        return len(full.partitions()), len(pruned.partitions())

    def check(self, spark, result) -> List[str]:
        errors = []
        want = {
            "full": self._expected_row(slice(None)),
            "pruned": self._expected_row(slice(*self.window)),
            "virtual": self._expected_row(slice(None)),
        }
        for q, row in result.items():
            for k, v in want[q].items():
                got = row[k]
                ok = got == v if not k.startswith("sum_") else abs(got - v) <= 1e-9 * max(1.0, abs(v))
                if not ok:
                    errors.append(f"scan.{q}.{k}: {got} != {v}")
        total, read = self.slab_counts()
        if not read < total:
            errors.append(f"pruned scan read {read} of {total} slabs")
        return errors

    def breakdown(self, spark, tracer) -> dict:
        total, read = self.slab_counts()
        return {"scan": {"slabs_total": total, "slabs_read": read,
                         "prune_ratio": read / total, "prune_ratio_base": "slabs planned by the full scan",
                         "rows": int(self.expected["tas"].size)}}


# ---------------------------------------------------------------------------
# training-data operators
# ---------------------------------------------------------------------------


class OperatorMix(Workload):
    name = "operator_mix"
    # each query's Python workers warm up over its first few runs: CPU per
    # operation falls by about a third over the first three noop runs
    settle_ops = 3

    def setup(self, spark) -> None:
        self.corpus = fixtures.write_corpus(self.seed, os.path.join(self.work, "corpus"))
        self.input_mb = sum(
            os.path.getsize(os.path.join(self.corpus, f)) for f in os.listdir(self.corpus)
        ) / 1e6

    def _entry(self):
        import __spark_entry__

        return __spark_entry__.queries()

    def op(self, spark, tracer, i: int):
        qs = self._entry()
        for q in QUERIES:
            tracer.label(f"op.{q}")
            tracer.span(f"op.{q}", lambda: _noop(qs[q](spark, self.corpus)))
        return {}

    def first_op(self, spark, tracer):
        """Each query's rows as pandas frames, kept for the oracle check."""
        qs = self._entry()
        return {q: qs[q](spark, self.corpus).toPandas() for q in QUERIES}

    def check(self, spark, result) -> List[str]:
        import duckdb

        import __spark_entry__
        from check_correctness import frame_summary

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                p = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            errors = []
            for q in QUERIES:
                got = frame_summary(result[q])
                want = frame_summary(con.execute(oracles[q]).fetchdf())
                if got[:3] != want[:3]:
                    errors.append(f"{q}: {got[0]} rows hash {got[2]} != oracle {want[0]} rows hash {want[2]}")
            return errors
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (RechunkZarr, DailyNetcdf4, ZarrScan, OperatorMix)}
