"""Schema inference and combination — the pipeline's central IR.

Semantics-parity reimplementation of reference ``pangeo_forge_recipes/
aggregation.py:12-224``: a *schema* is a plain serializable dict

    {"attrs": {...}, "coords": {name: var_schema}, "data_vars": {...},
     "dims": {dim: size}, "chunks": {dim: {position: length}}}

combined pairwise along one combine dimension at a time. Conflicts are
errors, never coercions (dim-size mismatch, overlapping chunk positions,
same-variable merge collisions, differing dims) — matching the reference
exactly so its unit tests transfer as the spec.

In the Spark engine, schemas travel as JSON strings inside DataFrames. Each
task folds its partition along the innermost combine dim with the level
combiner ``transforms._combine_level_fn``; the driver merges those partial
folds with :func:`combine_xarray_schemas` and folds the outer levels
(``transforms.determine_schema``) — Beam's ``CombinePerKey`` tree (reference
``transforms.py:276-301``) with no shuffle, which works because the
combiner is commutative and associative.
"""

from __future__ import annotations

import json
import math
from typing import Dict, Optional

import numpy as np

from .ndset import NDDataset

XarraySchema = Dict  # {"attrs", "coords", "data_vars", "dims", "chunks"}


def dataset_to_schema(ds: NDDataset) -> XarraySchema:
    """Schema of one fragment (reference ``aggregation.py:20-37``).

    Eager fragments carry no chunk layout, so ``chunks`` starts empty; the
    per-dim sequence chunks are injected by the level combiner ``transforms._combine_level_fn``
    (reference ``combiners.py:36-44``)."""
    d = ds.to_dict()
    return {
        "attrs": d["attrs"],
        "coords": d["coords"],
        "data_vars": d["data_vars"],
        "dims": d["dims"],
        "chunks": {},
    }


def _combine_dims(d1: Dict, d2: Dict, concat_dim: Optional[str]) -> Dict:
    """Reference ``aggregation.py:68-85``: sizes sum along the concat dim,
    must agree elsewhere."""
    if not d1:
        return d2
    out = {}
    for dim in set(d1) | set(d2):
        l1, l2 = d1.get(dim, 0), d2.get(dim, 0)
        if dim == concat_dim:
            out[dim] = l1 + l2
        elif l1 != l2:
            raise ValueError(f"Dimensions for {dim} have different sizes: {l1}, {l2}")
        else:
            out[dim] = l1
    return out


def _combine_chunks(c1: Dict, c2: Dict, concat_dim: Optional[str]) -> Dict:
    """Reference ``aggregation.py:94-112``: position-keyed chunk maps union
    along the concat dim (overlap = error), must be identical elsewhere."""
    if not c1:
        return c2
    if set(c1) != set(c2):
        raise ValueError("Expect the same dims in both chunk sets")
    chunks = {}
    for dim in c1:
        if dim == concat_dim:
            if set(c1[dim]) & set(c2[dim]):
                raise ValueError("Found overlapping keys in concat_dim")
            chunks[dim] = {**c1[dim], **c2[dim]}
        else:
            if c1[dim] != c2[dim]:
                raise ValueError("Non concat_dim chunks must be the same")
            chunks[dim] = c1[dim]
    return chunks


def _numeric_nan(v) -> bool:
    return isinstance(v, (float, np.floating)) and math.isnan(v)


def _combine_attrs(a1: dict, a2: dict) -> dict:
    """Intersection of attrs, NaN-aware (reference ``aggregation.py:115-132``)."""
    if not a1:
        return a2
    out = {}
    for key in set(a1) & set(a2):
        if _numeric_nan(a1[key]) and _numeric_nan(a2[key]):
            out[key] = a1[key]
        elif a1[key] == a2[key]:
            out[key] = a1[key]
    return out


def _combine_dtype(d1: str, d2: str) -> str:
    return str(np.promote_types(d1, d2))


def _combine_vars(v1: Dict, v2: Dict, concat_dim: Optional[str], allow_both: bool = False) -> Dict:
    """Variable-schema union (reference ``aggregation.py:139-180``): shapes
    sum along the concat dim; same-name collisions outside a concat are only
    legal for coords (``allow_both``)."""
    if not v1:
        return v2
    out = {}
    for vname in set(v1) | set(v2):
        if vname not in v1:
            out[vname] = v2[vname]
        elif vname not in v2:
            out[vname] = v1[vname]
        else:
            if concat_dim is None and not allow_both:
                raise ValueError(f"Can't merge datasets with the same variable {vname}")
            e1, e2 = v1[vname], v2[vname]
            if list(e1["dims"]) != list(e2["dims"]):
                raise ValueError(
                    f"Can't merge variables with different dims {e1['dims']}, {e2['dims']}"
                )
            shape = []
            for dname, l1, l2 in zip(e1["dims"], e1["shape"], e2["shape"]):
                if dname == concat_dim:
                    shape.append(l1 + l2)
                elif l1 != l2:
                    raise ValueError(
                        f"Can't merge variables with different shapes {e1['shape']}, {e2['shape']}"
                    )
                else:
                    shape.append(l1)
            out[vname] = {
                "dims": list(e1["dims"]),
                "attrs": _combine_attrs(e1["attrs"], e2["attrs"]),
                "dtype": _combine_dtype(e1["dtype"], e2["dtype"]),
                "shape": shape,
                "encoding": _combine_attrs(e1["encoding"], e2["encoding"]),
            }
    return out


def combine_xarray_schemas(
    s1: Optional[XarraySchema],
    s2: Optional[XarraySchema],
    concat_dim: Optional[str] = None,
) -> XarraySchema:
    """Pairwise schema combine (reference ``aggregation.py:40-65``)."""
    if s1 is None and s2 is None:
        raise ValueError(
            "Encountered two empty XarraySchemas during combine: one must be non-empty"
        )
    if s1 is None:
        return s2  # type: ignore[return-value]
    if s2 is None:
        return s1
    return {
        "attrs": _combine_attrs(s1["attrs"], s2["attrs"]),
        "coords": _combine_vars(s1["coords"], s2["coords"], concat_dim, allow_both=True),
        "data_vars": _combine_vars(s1["data_vars"], s2["data_vars"], concat_dim),
        "dims": _combine_dims(s1["dims"], s2["dims"], concat_dim),
        "chunks": _combine_chunks(s1["chunks"], s2["chunks"], concat_dim),
    }


def determine_target_chunks(
    schema: XarraySchema,
    specified_chunks: Optional[Dict[str, int]] = None,
    include_all_dims: bool = True,
) -> Dict[str, int]:
    """Reference ``aggregation.py:207-224``: schema chunk of position 0 is the
    default, every unchunked dim defaults to its full size, user chunks
    override; optionally strip full-size dims (used by ``split_fragment``)."""
    target = {dim: dimchunks[0] for dim, dimchunks in schema["chunks"].items()}
    for dim, dimsize in schema["dims"].items():
        target.setdefault(dim, dimsize)
    target.update(specified_chunks or {})
    if not include_all_dims:
        for dim in [d for d, cs in target.items() if cs == schema["dims"][d]]:
            del target[dim]
    return target


# -- JSON round-trip (schemas live in StringType columns) -----------------------


def schema_to_json(schema: Optional[XarraySchema]) -> str:
    if schema is None:
        return "null"
    return json.dumps(schema, separators=(",", ":"), sort_keys=True, allow_nan=True)


def schema_from_json(s: str) -> Optional[XarraySchema]:
    obj = json.loads(s)
    if obj is None:
        return None
    # JSON stringifies the int position keys of the chunks map; restore them
    obj["chunks"] = {
        dim: {int(k): v for k, v in posmap.items()} for dim, posmap in obj["chunks"].items()
    }
    return obj
