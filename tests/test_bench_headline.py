"""The tail-capture contract of ``bench.py``: its LAST stdout line is a
short JSON headline that a capture keeping only the tail of stdout can
parse, whatever sections have completed. No Spark session is started."""

from __future__ import annotations

import json
import os

import pytest

import bench

REQUIRED = {
    "metric",
    "value",
    "unit",
    "queries",
    "sequential_total",
    "matched_subset_ratio",
    "median_query_ratio",
    "median_ratio_heavy",
    "zarr_800mb_mb_s",
    "zarr_800mb_tax",
    "stress_growth",
    "sf",
    "detail",
}

NAMES = [*bench.HEADLINE, *bench.EXTRA_MATCHED, *bench.SPARK_ONLY]

STRESS_OPS = (
    "minhash_dedup",
    "dedup_clusters",
    "semantic_dedup",
    "ann_ivf_topk",
    "ivf_pq_index_query",
)


def _variant(wall: float) -> dict:
    return {
        "wall": wall,
        "runs": [wall + 0.123, wall + 0.456, wall],
        "mb_written": 796,
        "mb_per_s": round(796 / wall, 1),
    }


def _detail(heavy: bool) -> dict:
    # long walls (3-4 digit values) are the widest the line gets
    detail = {
        "metric": "headline_suite_wall_concurrent",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: 1234.5678 + i for i, n in enumerate(NAMES)},
        "sequential_total": 98765.4321,
        "matched_subset_ratio": 12.345,
        "median_query_ratio": 12.345,
        "median_query_ratio_duck_ge_250ms": 12.345,
        "scale_stress": None,
        "zarr_throughput_800mb": None,
        "sf": 0.1,
    }
    if heavy:
        detail["scale_stress"] = {
            "growth": {op: 123.45 for op in STRESS_OPS},
            "runs": {op: {"x1": [1.0, 2.0], "x10": [3.0, 4.0]} for op in STRESS_OPS},
        }
        detail["zarr_throughput_800mb"] = {
            **{
                v: _variant(1.234)
                for v in ("shuffled", "aligned", "shuffled_refs", "sharded")
            },
            "shuffled_over_aligned_tax": 12.34,
            "sharded_over_chunked": 1.23,
            "reference_mode_lazy": {
                "spill": _variant(2.5),
                "reference": _variant(2.0),
                "reference_over_spill_speedup": 1.25,
            },
        }
    return detail


def _check(line: str) -> dict:
    assert "\n" not in line
    assert len(line.encode()) <= 1900, len(line.encode())
    rec = json.loads(line)
    assert REQUIRED <= set(rec), REQUIRED - set(rec)
    return rec


def test_battery_times_the_46_queries():
    assert len(NAMES) == len(set(NAMES)) == 46


@pytest.mark.parametrize("heavy", [True, False], ids=["all_sections", "provisional"])
def test_headline_line_parses_and_fits_the_tail(heavy):
    rec = _check(bench.headline(_detail(heavy)))
    assert list(rec["queries"]) == NAMES
    if heavy:
        assert rec["stress_growth"] == {op: 123.45 for op in STRESS_OPS}
        assert set(rec["zarr_800mb_mb_s"]) == {
            "shuffled",
            "aligned",
            "shuffled_refs",
            "sharded",
        }
        assert rec["zarr_800mb_tax"] == 12.34
    else:
        assert rec["stress_growth"] is None
        assert rec["zarr_800mb_mb_s"] is None
        assert rec["zarr_800mb_tax"] is None


def test_committed_artifact_headline_fits_the_tail():
    path = os.path.join(bench.ROOT, "BENCH_DETAIL.json")
    with open(path) as f:
        rec = _check(bench.headline(json.load(f)))
    assert list(rec["queries"]) == NAMES
