"""Deterministic hashing helpers (reference ``pangeo_forge_recipes/
serialization.py:9-53``): stable sha256 of dicts, used for the
FilePattern merkle list that powers incremental append detection."""

from __future__ import annotations

from collections.abc import Collection
from enum import Enum
from hashlib import sha256
from json import dumps
from typing import Any, Sequence


def either_encode_or_hash(obj: Any):
    """JSON fallback encoder: enums serialize by value; objects exposing a
    ``sha256`` method contribute their hash (reference
    ``serialization.py:9-20``)."""
    if isinstance(obj, Enum):
        return obj.value
    if hasattr(obj, "sha256"):
        return obj.sha256().hex()
    raise TypeError(f"object of type {type(obj).__name__} not serializable")


def dict_to_sha256(dictionary: dict) -> bytes:
    """Stable sha256 of a dict via canonical JSON (sorted keys, tight
    separators) — reference ``serialization.py:23-40``."""
    b = dumps(
        dictionary,
        default=either_encode_or_hash,
        ensure_ascii=False,
        sort_keys=True,
        indent=None,
        separators=(",", ":"),
    )
    return sha256(b.encode("utf-8")).digest()


def dict_drop_empty(pairs: Sequence[Sequence]) -> dict:
    """dict factory dropping None and empty collections, for hash
    backwards-compatibility (reference ``serialization.py:43-53``)."""
    return dict(
        (k, v) for k, v in pairs if not (v is None or (not v and isinstance(v, Collection)))
    )

