"""Deployment runner — the engine's ``bake`` workflow.

Reference parity: the reference delegates deployment to the separate
``pangeo-forge-runner`` project (``docs/deployment/cli.md``): a
*feedstock* directory holds recipe modules plus a ``meta.yaml`` naming
them (``recipes: [{id, object: "module:var"}]``,
``docs/deployment/feedstocks.md``); a *config file* (Python or JSON)
centralizes storage locations; ``bake --repo ... -f config
--Bake.recipe_id=... [--prune]`` deploys one recipe, with deploy-time
**injections** filling each transform's storage kwargs
(reference ``injections.py:1-17``: ``StoreToZarr.target_root ←
TARGET_STORAGE``, ``OpenURLWithFSSpec.cache ← INPUT_CACHE_STORAGE``).

This module carries the same workflow on Spark:

* :class:`Recipe` — the declarative recipe object a feedstock module
  exports (``kind="zarr" | "reference"``); plain callables
  ``recipe(spark, ctx)`` are accepted too for full control;
* :func:`load_config` — JSON file, Python file using the reference's
  ``c.TargetStorage.root_path = ...`` traitlets convention, or a dict;
* :func:`bake` — resolve the feedstock's ``meta.yaml``, inject
  storage, run, return per-recipe results;
* ``python -m pangeo_forge_recipes_spark.runner bake --repo ...
  -f ... --Bake.recipe_id=... [--prune]`` — the CLI face.

Storage roots may be local paths or ``s3://`` urls (the Store layer
dispatches); ``--prune`` keeps the first two keys of every concat dim,
exactly the reference CLI's test-deploy tip.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Union

from .patterns import FilePattern


@dataclass
class Recipe:
    """Declarative recipe a feedstock module exports as ``recipe = ...``.

    ``target_root`` and ``cache`` are normally left unset — the runner
    injects them from the deployment config (the reference's
    ``TARGET_STORAGE`` / ``INPUT_CACHE_STORAGE`` injections); a recipe
    may pin either explicitly, which wins over injection.
    ``kwargs`` passes any further :func:`~.transforms.store_to_zarr` /
    :func:`~.transforms.write_combined_reference` options through
    (``target_shards``, ``preprocess``, ``dynamic_chunking_fn``, ...).
    """

    pattern: FilePattern
    store_name: str
    kind: str = "zarr"  # "zarr" | "reference"
    target_chunks: Optional[Dict[str, int]] = None
    target_root: Optional[str] = None  # injected: TARGET_STORAGE
    cache: Optional[str] = None  # injected: INPUT_CACHE_STORAGE
    kwargs: dict = field(default_factory=dict)


class _ConfigNode:
    """Attribute tree for Python config files: ``c.TargetStorage.
    root_path = "..."`` (the reference runner's traitlets convention,
    ``examples/runner-config/local.py``)."""

    def __init__(self):
        object.__setattr__(self, "_values", {})

    def __getattr__(self, name):
        # Return the existing child so `c.TargetStorage.fsspec_class = ...`
        # followed by `c.TargetStorage.root_path = ...` accumulates on ONE
        # node instead of replacing the section per access.
        if name in self._values:
            return self._values[name]
        node = _ConfigNode()
        self._values[name] = node
        return node

    def __setattr__(self, name, value):
        self._values[name] = value

    def to_dict(self) -> dict:
        out = {}
        for k, v in self._values.items():
            out[k] = v.to_dict() if isinstance(v, _ConfigNode) else v
        return out


def load_config(config: Union[str, dict, None]) -> dict:
    """Normalize a deployment config to ``{"target_root", "cache_root"}``.

    Accepts a dict, a ``.json`` file, or a ``.py`` file assigning to the
    ``c.`` tree (``c.TargetStorage.root_path``,
    ``c.InputCacheStorage.root_path`` — fsspec_class entries are
    accepted and ignored: storage here is scheme-dispatched by url)."""
    if config is None:
        return {}
    if isinstance(config, dict):
        raw = config
    else:
        path = str(config)
        if path.endswith(".json"):
            with open(path) as f:
                raw = json.load(f)
        elif path.endswith(".py"):
            c = _ConfigNode()
            src = open(path).read()
            exec(compile(src, path, "exec"), {"c": c})  # noqa: S102
            raw = c.to_dict()
        else:
            raise ValueError(f"config must be .py or .json (got {path!r})")
    out = {}
    ts = raw.get("TargetStorage", {})
    ic = raw.get("InputCacheStorage", {})
    if isinstance(ts, dict) and ts.get("root_path"):
        out["target_root"] = ts["root_path"]
    if isinstance(ic, dict) and ic.get("root_path"):
        out["cache_root"] = ic["root_path"]
    for k in ("target_root", "cache_root"):
        if raw.get(k):
            out[k] = raw[k]
    return out


def parse_meta(feedstock_dir: str) -> List[dict]:
    """``meta.yaml`` → ``[{"id": ..., "object": "module:var"}, ...]``
    (reference ``docs/deployment/feedstocks.md`` / the reference's own
    ``examples/feedstock/meta.yaml``)."""
    path = os.path.join(feedstock_dir, "meta.yaml")
    if not os.path.exists(path):
        raise FileNotFoundError(f"feedstock has no meta.yaml: {feedstock_dir}")
    try:
        import yaml  # type: ignore

        with open(path) as f:
            doc = yaml.safe_load(f)
        recipes = doc.get("recipes", [])
    except ImportError:  # minimal fallback for the exact documented shape
        recipes = []
        cur: Optional[dict] = None
        for line in open(path):
            ls = line.strip()
            if ls.startswith("- id:"):
                cur = {"id": ls.split(":", 1)[1].strip().strip("\"'")}
                recipes.append(cur)
            elif ls.startswith("object:") and cur is not None:
                cur["object"] = ls.split(":", 1)[1].strip().strip("\"'")
    if not recipes:
        raise ValueError(f"{path}: no recipes entries")
    return recipes


def load_recipe(feedstock_dir: str, recipe_id: Optional[str] = None):
    """Resolve one recipe object from a feedstock. With no id and
    exactly one recipe listed, that one is picked (CLI parity)."""
    entries = parse_meta(feedstock_dir)
    if recipe_id is None:
        if len(entries) != 1:
            raise ValueError(
                f"feedstock lists {len(entries)} recipes — pass recipe_id "
                f"(one of {[e['id'] for e in entries]})"
            )
        entry = entries[0]
    else:
        match = [e for e in entries if e.get("id") == recipe_id]
        if not match:
            raise KeyError(
                f"recipe_id {recipe_id!r} not in meta.yaml "
                f"(has {[e['id'] for e in entries]})"
            )
        entry = match[0]
    mod_name, _, attr = entry["object"].partition(":")
    if not attr:
        raise ValueError(f"object must be 'module:var' (got {entry['object']!r})")
    mod_path = os.path.join(feedstock_dir, f"{mod_name}.py")
    spec = importlib.util.spec_from_file_location(f"_feedstock_{mod_name}", mod_path)
    module = importlib.util.module_from_spec(spec)
    added = feedstock_dir not in sys.path
    if added:  # recipe modules may import feedstock-local helpers
        sys.path.insert(0, feedstock_dir)
    try:
        spec.loader.exec_module(module)
    finally:
        if added:
            sys.path.remove(feedstock_dir)
    return entry["id"], getattr(module, attr)


@dataclass
class BakeContext:
    """What a callable recipe receives: the session plus the injected
    deployment config."""

    spark: object
    target_root: Optional[str]
    cache_root: Optional[str]
    prune: Optional[int]
    job_name: Optional[str]


def _run_one(spark, recipe, cfg: dict, prune: Optional[int], job_name):
    if callable(recipe) and not isinstance(recipe, Recipe):
        return recipe(
            spark,
            BakeContext(
                spark=spark,
                target_root=cfg.get("target_root"),
                cache_root=cfg.get("cache_root"),
                prune=prune,
                job_name=job_name,
            ),
        )
    if not isinstance(recipe, Recipe):
        raise TypeError(
            f"recipe must be a Recipe or a callable (got {type(recipe)!r})"
        )
    # injections (reference injections.py): config fills unset fields
    target_root = recipe.target_root or cfg.get("target_root")
    if not target_root:
        raise ValueError(
            "no target storage: set TargetStorage.root_path in the config "
            "or Recipe.target_root"
        )
    cache = recipe.cache or cfg.get("cache_root")
    if recipe.kind == "zarr":
        from .transforms import store_to_zarr

        return store_to_zarr(
            spark,
            recipe.pattern,
            target_root,
            recipe.store_name,
            target_chunks=recipe.target_chunks,
            cache=cache,
            prune=prune,
            **recipe.kwargs,
        )
    if recipe.kind == "reference":
        from .transforms import write_combined_reference

        pattern = recipe.pattern
        if prune:
            pattern = pattern.prune(prune)
        return write_combined_reference(
            spark, pattern, target_root, recipe.store_name, **recipe.kwargs
        )
    raise ValueError(f"Recipe.kind={recipe.kind!r} ('zarr' or 'reference')")


def bake(
    repo: str,
    config: Union[str, dict, None] = None,
    recipe_id: Optional[str] = None,
    prune: Optional[int] = None,
    job_name: Optional[str] = None,
    spark=None,
):
    """Deploy one feedstock recipe — the engine's
    ``pangeo-forge-runner bake`` (reference ``docs/deployment/cli.md``).

    ``prune``: like the CLI's ``--prune`` flag, keep only the first two
    keys of every concat dim when truthy (pass an int for a different
    count). Returns the recipe's result (a ``StoreResult`` for zarr, the
    reference-file path for kerchunk, or whatever a callable returns).
    """
    cfg = load_config(config)
    if spark is None:
        from .session import get_spark

        spark = get_spark()
    rid, recipe = load_recipe(repo, recipe_id)
    nkeep = 2 if prune is True else prune
    return _run_one(spark, recipe, cfg, nkeep, job_name or f"bake-{rid}")


def main(argv: Optional[List[str]] = None) -> int:
    p = argparse.ArgumentParser(
        prog="pangeo_forge_recipes_spark.runner",
        description="bake a feedstock recipe (reference CLI parity)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("bake")
    b.add_argument("--repo", required=True, help="feedstock directory")
    b.add_argument("-f", "--config", default=None, help=".py or .json config")
    b.add_argument("--Bake.recipe_id", dest="recipe_id", default=None)
    b.add_argument("--Bake.job_name", dest="job_name", default=None)
    b.add_argument(
        "--prune",
        nargs="?",
        const=2,
        default=None,
        type=int,
        help="keep first N (default 2) keys per concat dim",
    )
    args = p.parse_args(argv)
    result = bake(
        args.repo,
        config=args.config,
        recipe_id=args.recipe_id,
        prune=args.prune,
        job_name=args.job_name,
    )
    path = getattr(result, "path", result)
    print(f"baked: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
