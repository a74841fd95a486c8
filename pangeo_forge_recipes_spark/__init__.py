"""pangeo_forge_recipes_spark — a PySpark-native dataflow engine with the
capabilities of pangeo-forge/pangeo-forge-recipes.

Core pipeline (parity with the reference, re-expressed Spark-first):

    pattern  = FilePattern(fmt_fn, ConcatDim("time", keys, nitems_per_file=1))
    result   = store_to_zarr(spark, pattern, target_root, "store.zarr",
                             target_chunks={"time": 2})
    ds       = result.open()          # NDDataset

Extension operators for large-scale training-data pipelines live under
``pangeo_forge_recipes_spark.operators`` (dedup, similarity, text,
multimodal).
"""

from . import _pyworker
from .aggregation import (
    XarraySchema,
    combine_xarray_schemas,
    dataset_to_schema,
    determine_target_chunks,
)
from .chunk_grid import ChunkAxis, ChunkGrid
from .ndset import NDDataset, Variable, assert_equal, combine_nested, concat
from .patterns import (
    CombineDim,
    ConcatDim,
    FilePattern,
    FileType,
    MergeDim,
    pattern_from_file_sequence,
    pattern_from_glob,
)
from .rechunking import combine_fragments, split_fragment
from .session import get_spark
from .pyramid import store_to_pyramid
from .storage import CacheFSSpecTarget, FlatFSSpecTarget, FSSpecTarget
from .transforms import (
    StoreResult,
    determine_schema,
    index_items,
    manifest_df,
    read_schemas_df,
    store_to_zarr,
    write_combined_reference,
)
from .types import (
    CombineOp,
    Dimension,
    Index,
    IndexedPosition,
    Position,
    augment_index_with_start_stop,
)

__version__ = "0.1.0"

# inside a PySpark worker: freeze the import heap out of the post-task
# collections and stop re-parsing unchanged zip archives per task
_pyworker.install_if_worker()
