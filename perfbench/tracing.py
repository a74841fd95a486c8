"""Driver-side spans around the package's public calls, and job labels.

``Tracer.install`` replaces module attributes with wrappers that record
a span (name, start, end, parent) and label every Spark job submitted
afterwards with the stage entered last. The pipeline composites resolve
their stage functions through module globals at call time, so wrapping
``transforms.manifest_df`` also covers the call made inside
``store_to_zarr``. Spans stay in memory until the run writes its report.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass
from typing import Callable, List, Optional, Tuple

# (module, attribute, stage): the stage names the per-stage table uses
PIPELINE_CALLS: Tuple[Tuple[str, str, str], ...] = (
    ("transforms", "store_to_zarr", "store_to_zarr"),
    ("transforms", "write_combined_reference", "write_combined_reference"),
    ("transforms", "manifest_df", "manifest"),
    ("transforms", "read_schemas_df", "schema_pass"),
    ("transforms", "determine_schema", "schema_pass"),
    ("transforms", "schema_to_zarr", "template"),
    ("transforms", "index_items", "index"),
    ("transforms", "open_split_fragments_df", "split"),
    ("transforms", "open_split_refs_df", "split"),
    ("transforms", "rechunk_and_store", "combine_write"),
    ("transforms", "rechunk_refs_and_store", "combine_write"),
    ("transforms", "_consolidate_coords", "consolidate"),
    ("transforms", "_consolidate_metadata", "consolidate"),
    ("transforms", "open_with_kerchunk_df", "refs_scan"),
    ("transforms", "combine_references_df", "refs_merge"),
    ("kerchunkio", "write_reference_json", "refs_write"),
    ("zarr_source", "read_zarr", "scan"),
)

_MODULES = {
    "transforms": "pangeo_forge_recipes_spark.transforms",
    "kerchunkio": "pangeo_forge_recipes_spark.kerchunkio",
    "zarr_source": "pangeo_forge_recipes_spark.sources.zarr_source",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]


class Tracer:
    """Records spans and labels jobs ``<op tag>/<stage>``. ``Tracer(None)``
    is the untraced form: every method is a no-op."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._patched: List[Tuple[object, str, Callable]] = []
        self.tag = "untagged"

    @property
    def on(self) -> bool:
        return self.spark is not None

    def label(self, stage: Optional[str]) -> None:
        """Label the jobs submitted from now on; ``None`` clears it."""
        if self.on:
            self.spark.sparkContext.setJobDescription(
                None if stage is None else f"{self.tag}/{stage}"
            )

    def span(self, name: str, fn: Callable, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, fn: Callable, stage: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # jobs that run after a lazy DataFrame function returns belong to it: the
            # label is left in place for the job the composite submits next
            self.label(stage)
            return self.span(stage, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        import importlib

        if not self.on:
            return
        for mod_key, attr, stage in PIPELINE_CALLS:
            module = importlib.import_module(_MODULES[mod_key])
            orig = getattr(module, attr)
            self._patched.append((module, attr, orig))
            setattr(module, attr, self._wrap(orig, stage))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()
        self.label(None)

    def self_times(self) -> dict:
        """Per-name totals of span self time (duration minus the part
        covered by child spans), in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out
