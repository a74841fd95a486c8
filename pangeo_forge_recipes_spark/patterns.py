"""FilePattern: the lazy N-d matrix of source files — the engine's scan.

Semantics-parity reimplementation of reference ``pangeo_forge_recipes/
patterns.py:21-332``. A pattern is the outer product of combine-dimension
keys; ``items()`` yields ``(Index, url)`` pairs.

Spark-first: patterns never materialize driver-side beyond what fits — see
``transforms.manifest_df`` which builds the manifest either directly
(an Arrow-built JVM ``LocalRelation``) or, for huge patterns, distributed from
``spark.range(prod(shape))`` + an unravel UDF so a 10^8-file pattern never
touches driver memory.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from enum import Enum, auto
from hashlib import sha256
from itertools import product
from typing import (
    Any,
    Callable,
    ClassVar,
    Dict,
    Iterator,
    List,
    Optional,
    Sequence,
    Tuple,
    Union,
)

from .serialization import dict_drop_empty, dict_to_sha256
from .types import CombineOp, Dimension, Index, Position

# re-exported for parity with the reference module layout (patterns.py:66-82
# lives here in the reference; ours lives in types to avoid a cycle)
from .types import augment_index_with_start_stop  # noqa: F401


@dataclass(frozen=True)
class CombineDim:
    """A named axis of the file matrix (reference ``patterns.py:21-30``)."""

    name: str
    operation: ClassVar[CombineOp]
    keys: Sequence[Any] = field(repr=False)

    @property
    def dimension(self) -> Dimension:
        return Dimension(self.name, self.operation)


@dataclass(frozen=True)
class ConcatDim(CombineDim):
    """Concatenation axis — same variables stacked along a dimension, e.g.
    ``time`` (reference ``patterns.py:33-48``). ``nitems_per_file`` is the
    fast path when every file holds a known equal number of elements."""

    nitems_per_file: Optional[int] = None
    operation: ClassVar[CombineOp] = CombineOp.CONCAT


@dataclass(frozen=True)
class MergeDim(CombineDim):
    """Merge axis — distinct variables united, e.g. ``variable``
    (reference ``patterns.py:51-63``)."""

    operation: ClassVar[CombineOp] = CombineOp.MERGE


class AutoName(Enum):
    def _generate_next_value_(name, start, count, last_values):
        return name


class FileType(AutoName):
    """Source file formats (reference ``patterns.py:92-99``). Every row is
    natively readable in this engine — no optional libs: ``zarr``/``npz``
    via the engine's own stores, ``netcdf3`` (incl. 64-bit-offset and
    CDF-5) via ``netcdf3.py``, ``netcdf4`` via the native HDF5 reader
    (``hdf5io.py``), ``grib`` via ``grib2io.py``, ``opendap`` via the DAP2
    client (``dap2io.py``), ``kerchunk`` via ``kerchunkio.py``. The engine
    table is ``openers.READERS``."""

    grib = auto()
    kerchunk = auto()
    netcdf3 = auto()
    netcdf4 = auto()
    opendap = auto()
    unknown = auto()
    zarr = auto()
    npz = auto()  # engine-native portable container (numpy .npz + JSON meta)


class FilePattern:
    """N-dimensional matrix of files combined via merge/concat operations
    (reference ``patterns.py:102-332``)."""

    def __init__(
        self,
        format_function: Callable[..., str],
        *combine_dims: CombineDim,
        fsspec_open_kwargs: Optional[Dict[str, Any]] = None,
        query_string_secrets: Optional[Dict[str, str]] = None,
        file_type: Union[str, FileType] = "npz",
    ):
        self.format_function = format_function
        self.combine_dims = combine_dims
        self.fsspec_open_kwargs = fsspec_open_kwargs or {}
        self.query_string_secrets = query_string_secrets or {}
        self.file_type = FileType(file_type) if isinstance(file_type, str) else file_type
        if self.fsspec_open_kwargs and self.file_type == FileType.opendap:
            raise ValueError(
                "OPeNDAP inputs are not opened with `fsspec`. "
                "When passing `fsspec_open_kwargs`, `file_type` cannot be `opendap`."
            )

    def __repr__(self) -> str:
        return f"<FilePattern {self.dims}>"

    @property
    def dims(self) -> Dict[str, int]:
        return {op.name: len(op.keys) for op in self.combine_dims}

    @property
    def shape(self) -> Tuple[int, ...]:
        return tuple(len(op.keys) for op in self.combine_dims)

    @property
    def merge_dims(self) -> List[str]:
        return [op.name for op in self.combine_dims if op.operation == CombineOp.MERGE]

    @property
    def concat_dims(self) -> List[str]:
        return [op.name for op in self.combine_dims if op.operation == CombineOp.CONCAT]

    @property
    def nitems_per_input(self) -> Dict[str, Optional[int]]:
        return {
            op.name: (op.nitems_per_file or None)
            for op in self.combine_dims
            if isinstance(op, ConcatDim)
        }

    @property
    def concat_sequence_lens(self) -> Dict[str, Optional[int]]:
        return {
            name: (n * self.dims[name] if n is not None else None)
            for name, n in self.nitems_per_input.items()
        }

    @property
    def combine_dim_keys(self) -> List[Dimension]:
        return [op.dimension for op in self.combine_dims]

    # -- enumeration ----------------------------------------------------------
    def index_for_flat_position(self, flat: int) -> Index:
        """Unravel a flat position into an Index — the distributed-manifest
        path (``spark.range`` + this, instead of driver-side ``product``)."""
        index = Index()
        for op, dim_len in zip(reversed(self.combine_dims), reversed(self.shape)):
            flat, pos = divmod(flat, dim_len)
            index[op.dimension] = Position(pos)
        return Index(
            {op.dimension: index[op.dimension] for op in self.combine_dims}
        )

    def __getitem__(self, indexer: Index) -> str:
        kwargs = {}
        for dimension, position in indexer.items():
            matching = [d for d in self.combine_dims if d.dimension == dimension]
            if len(matching) != 1:
                raise KeyError(f"Could not find combine_dim for dimension {dimension}")
            dim = matching[0]
            kwargs[dim.name] = dim.keys[position.value]
        return self.format_function(**kwargs)

    def __iter__(self) -> Iterator[Index]:
        for positions in product(*[range(n) for n in self.shape]):
            yield Index(
                {
                    op.dimension: Position(v)
                    for op, v in zip(self.combine_dims, positions)
                }
            )

    def items(self) -> Iterator[Tuple[Index, str]]:
        for key in self:
            yield key, self[key]

    def __len__(self) -> int:
        n = 1
        for s in self.shape:
            n *= s
        return n

    # -- pruning (test/CI runs; reference ``patterns.py:235-260``) ------------
    def prune(self, nkeep: int = 2) -> "FilePattern":
        new_dims: List[CombineDim] = []
        for cdim in self.combine_dims:
            if isinstance(cdim, ConcatDim):
                new_dims.append(replace(cdim, keys=cdim.keys[:nkeep]))
            else:
                new_dims.append(cdim)
        return FilePattern(
            self.format_function,
            *new_dims,
            fsspec_open_kwargs=self.fsspec_open_kwargs,
            query_string_secrets=self.query_string_secrets,
            file_type=self.file_type,
        )

    # -- merkle hashing for incremental append (reference patterns.py:262-318)
    def get_merkle_list(self) -> List[bytes]:
        root = {
            "fsspec_open_kwargs": self.fsspec_open_kwargs,
            "query_string_secrets": self.query_string_secrets,
            "file_type": self.file_type,
            "nitems_per_file": {
                op.name: op.nitems_per_file  # type: ignore[attr-defined]
                for op in self.combine_dims
                if op.name in self.concat_dims
            },
        }
        merkle_list = [dict_to_sha256(dict_drop_empty(list(root.items())))]
        for _, url in self.items():
            value_hash = sha256(url.encode("utf-8")).digest()
            merkle_list.append(sha256(merkle_list[-1] + value_hash).digest())
        return merkle_list

    def sha256(self) -> bytes:
        return self.get_merkle_list()[-1]

    def start_processing_from(self, old_pattern_last_hash: bytes) -> Optional[Index]:
        """Find the Index at which to resume processing to append to a store
        built from a previous pattern (reference ``patterns.py:302-318``)."""
        for key, h in zip(self, self.get_merkle_list()):
            if h == old_pattern_last_hash:
                return key
        return None


def pattern_from_file_sequence(
    file_list: Sequence[str],
    concat_dim: str,
    nitems_per_file: Optional[int] = None,
    **kwargs,
) -> FilePattern:
    """1-D concat pattern over an explicit file list (reference
    ``patterns.py:321-332``)."""
    concat = ConcatDim(
        name=concat_dim, keys=list(range(len(file_list))), nitems_per_file=nitems_per_file
    )

    def format_function(**kw) -> str:
        return file_list[kw[concat_dim]]

    return FilePattern(format_function, concat, **kwargs)


def pattern_from_glob(
    pathname: str,
    concat_dim: str,
    nitems_per_file: Optional[int] = None,
    **kwargs,
) -> FilePattern:
    """1-D concat pattern over a glob — local paths or ``s3://``/``gs://``
    prefixes — in natural sort order (file sequences like ``f2`` /
    ``f10`` order numerically, not lexicographically — the
    archival-file-naming convention)."""
    import glob as _glob
    import re as _re

    def natural(key: str):
        return [
            int(part) if part.isdigit() else part
            for part in _re.split(r"(\d+)", key)
        ]

    from .storage import is_object_url, list_shard_urls

    if is_object_url(pathname):
        files = sorted(list_shard_urls(pathname, suffixes=("",)), key=natural)
    else:
        files = sorted(_glob.glob(pathname), key=natural)
    if not files:
        raise FileNotFoundError(f"glob {pathname!r} matched no files")
    return pattern_from_file_sequence(
        files, concat_dim, nitems_per_file=nitems_per_file, **kwargs
    )
