"""Spark plumbing shared by the pipeline and the extension operators:
branch materialization, partition spreading, and the one way a Python
step runs (``map_batches``)."""

from __future__ import annotations

import os
from typing import Callable, Iterator, Optional, Sequence, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame

BatchFn = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]

# the key under which ``map_batches`` records ``(source, steps)`` in the
# ``__dict__`` of each DataFrame it returns
_STEPS = "_pfr_python_steps"

_ARROW_TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "double": pa.float64(),
    "array<float>": pa.list_(pa.float32()),
}


def arrow_batch(ddl: str, columns) -> pa.RecordBatch:
    """One record batch of ``ddl`` (a flat DDL string over the types in
    :data:`_ARROW_TYPES`) from its ``columns``, given in ``ddl`` order
    and converted to the DDL types; an empty ``columns`` gives an empty
    batch."""
    fields = [f.split() for f in ddl.split(",")]
    columns = list(columns) or [[] for _ in fields]
    return pa.RecordBatch.from_arrays(
        [pa.array(col, _ARROW_TYPES[t]) for col, (_, t) in zip(columns, fields, strict=True)],
        names=[name for name, _ in fields],
    )


def _compose(fns: Tuple[BatchFn, ...]) -> BatchFn:
    def steps(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for fn in fns:
            batches = fn(batches)
        return batches

    steps.__name__ = "+".join(fn.__name__ for fn in fns)
    return steps


def map_batches(
    df: DataFrame, fn: BatchFn, schema: str, columns: Optional[Sequence[str]] = None
) -> DataFrame:
    """Run the Python step ``fn`` over ``df``, emitting rows of ``schema``.

    ``fn`` maps Arrow record batches to Arrow record batches and reads
    its input columns by name. ``columns`` names the ones it reads: a
    chain's first step sees ``df.select(*columns)``, projected in the
    JVM; a later step sees the previous step's batches whole.

    Spark gives every Python node of a task its own Python worker
    process, and it does not fuse adjacent ones: two steps in a row would
    hold two ~140 MB workers per task. So when ``df`` is itself a
    DataFrame this function returned (not one derived from it, and not
    persisted), ``fn`` joins that DataFrame's steps in ONE ``mapInArrow``
    over their common source — Beam's fusion of ``ParDo`` chains, done in
    Python. The chain is recorded in the returned DataFrame's
    ``__dict__``; it is read there because ``DataFrame.__getattr__``
    looks unknown names up as columns through the JVM."""
    source, fns = df.__dict__.get(_STEPS, (df, ()))
    if df.is_cached:
        source, fns = df, ()
    if columns is not None:
        # resolved either way, so a missing column fails at plan time
        projected = df.select(*columns)
        if not fns:
            source = projected
    fns = (*fns, fn)
    out = source.mapInArrow(_compose(fns), schema)
    out.__dict__[_STEPS] = (source, fns)
    return out


def materialize_branch_input(df: DataFrame) -> DataFrame:
    """Materialize a small DataFrame that feeds MULTIPLE plan branches of
    one query (AQE does not reuse shuffle stages across branches — proven
    in tools/check_reuse.py, r12 — so without this the upstream subtree,
    including CPU-bound Python scans, recomputes once per branch).

    Strategy comes from ``$SPARK_GRAFT_BRANCH_MATERIALIZE``:

    * ``checkpoint`` (default): eager ``localCheckpoint``. Fastest and
      leak-free locally (no CacheManager entry; blocks free with the
      plan), but the blocks are executor-local and NON-REPLICATED — on a
      real cluster an executor loss (spot kill, dynamic-allocation
      scale-in) fails the query instead of recomputing from lineage, and
      the eager job runs at DataFrame-construction time (building or
      ``explain()``-ing the plan executes the upstream scans once).
    * ``persist``: lazy ``.persist()`` — keeps lineage (executor loss
      recomputes), materializes on first use. The right choice for
      long-lived clusters with dynamic allocation; the branches still
      share one computation of the scan.

    Either way the input is expected to be SMALL (signature tables of
    O(n) × tens of bytes), never the corpus payload."""
    mode = os.environ.get("SPARK_GRAFT_BRANCH_MATERIALIZE", "checkpoint")
    if mode == "persist":
        return df.persist()
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the cluster's default parallelism, but only
    when the incoming plan has fewer partitions (e.g. a single-row-group
    parquet file → one unsplittable scan task). Already-parallel inputs —
    a cached repartitioned view, a post-shuffle stage — pass through
    untouched, avoiding a pointless extra exchange."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 1
    if current >= target:
        return df
    return df.repartition(target)
