"""The benchmark's own tests (no Spark session): seeded generators,
metric names, the event-log parser and the output check.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import numpy as np
import pytest

import eventlog
import fixtures
import layers
import run
from workloads import check_dataset

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_arrays_are_deterministic_per_seed():
    for make in (fixtures.rechunk_arrays, fixtures.daily_arrays):
        a, b, c = make(7), make(7), make(8)
        for name in a:
            np.testing.assert_array_equal(a[name], b[name])
            assert not np.array_equal(a[name], c[name])


def test_corpus_is_deterministic_per_seed():
    a, b, c = fixtures.make_corpus(3), fixtures.make_corpus(3), fixtures.make_corpus(4)
    assert a.documents.equals(b.documents)
    np.testing.assert_array_equal(np.stack(a.embeddings["embedding"]), np.stack(b.embeddings["embedding"]))
    assert not a.documents["text"].equals(c.documents["text"])


@pytest.mark.parametrize("write", [
    lambda seed, root: fixtures.write_daily_netcdf4(seed, root, nfiles=3),
    fixtures.write_rechunk_sources,
    fixtures.write_corpus,
])
def test_written_files_are_byte_identical_per_seed(tmp_path, write):
    write(5, str(tmp_path / "a"))
    write(5, str(tmp_path / "b"))
    write(6, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    names = [w["name"] for w in spec["workloads"]] + list(e2e) + list(per_layer)
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    assert all(layers.entry_for(n) for n in per_layer), [n for n in per_layer if not layers.entry_for(n)]


CANNED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": "t0/split"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Number of Tasks": 2, "Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 3000},
            {"ID": 2, "Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
            {"ID": 3, "Name": "time to run Python workers", "Value": "1000"},
            {"ID": 4, "Name": "time to run Python workers", "Value": "500"},
            {"ID": 5, "Name": "data sent to Python workers", "Value": "2000000"},
            {"ID": 6, "Name": "data returned from Python workers", "Value": "3000000"},
            {"ID": 7, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 4_000_000},
        ]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
            {"ID": 8, "Name": "internal.metrics.executorRunTime", "Value": 1000},
        ]}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4100},
]


def test_event_log_parser_reads_canned_fragment(tmp_path):
    (tmp_path / "app").mkdir()
    with open(tmp_path / "app" / "events_1_app", "w") as f:
        f.write("\n".join(json.dumps(e) for e in CANNED_LOG) + "\n")
    totals = eventlog.totals_by_label(eventlog.read_events(str(tmp_path)))
    t = totals["t0/split"]
    assert t["jobs"] == 1 and t["stages"] == 2 and t["tasks"] == 6
    assert t["task_failures"] == 1
    assert t["job_wall_s"] == pytest.approx(2.5)
    assert t["executor_run_s"] == pytest.approx(4.0)
    assert t["executor_cpu_s"] == pytest.approx(2.0)
    assert t["python_worker_s"] == pytest.approx(1.5)
    assert t["jvm_s"] == pytest.approx(2.5)
    assert (t["to_python_mb"], t["from_python_mb"], t["shuffle_write_mb"]) == pytest.approx((2.0, 3.0, 4.0))
    assert totals["unlabelled"]["jobs"] == 1
    assert eventlog.sum_totals(totals, "t0/")["tasks"] == 6


def _small_store(path: str):
    from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
    from pangeo_forge_recipes_spark.dsio import schema_to_zarr, store_dataset_fragment
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
    from pangeo_forge_recipes_spark.types import Index

    rng = np.random.default_rng(0)
    a = rng.standard_normal((4, 3, 5))
    lat, lon = fixtures.grid(3, 5)
    ds = NDDataset({"a": Variable(("time", "lat", "lon"), a)},
                   {"time": fixtures.time_coord(0, 4), "lat": lat, "lon": lon})
    schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": 2})
    store_dataset_fragment((Index(), ds), path)
    return {"a": a}


def test_output_check_flags_one_corrupted_chunk(tmp_path):
    from pangeo_forge_recipes_spark.dsio import open_zarr_group

    path = str(tmp_path / "s.zarr")
    expected = _small_store(path)
    assert check_dataset(open_zarr_group(path), expected, "store") == []

    chunk = os.path.join(path, "a", "c", "1", "0", "0")
    with open(chunk, "r+b") as f:
        raw = bytearray(f.read())
        raw[:8] = np.float64(1e300).tobytes()
        f.seek(0)
        f.write(raw)
    errors = check_dataset(open_zarr_group(path), expected, "store")
    assert errors == ["store.a: 1 elements differ"]
