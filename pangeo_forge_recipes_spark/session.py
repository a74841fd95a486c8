"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os
from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_driver_mem() -> str:
    """min(16g, ~40 % of MemTotal): the ceiling the heap may grow to (see
    below), leaving the rest of the host to Python workers and the page
    cache (6,437 MB on a 15 GB host)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(16 * 1024, total_mb * 2 // 5)}m"
    except OSError:
        pass
    return "16g"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

# The driver JVM's options. Its heap starts at the JVM default (1/64 of
# RAM) and G1 grows it on demand up to spark.driver.memory, never giving
# any back (MaxHeapFreeRatio=100), so it cannot oscillate between commit
# and uncommit after a heavy phase. On a 4-core / 15 GB host a heap pinned
# at its 6,437 MB ceiling and pre-touched held 6,879 MB RSS right after
# start (442 MB growing on demand); a fixed heap, touched or not, still
# lets G1 cycle eden through all of it (a 1 GB one peaked at ~2.3 GB RSS
# on perfbench's daily_netcdf4, ~1.5 GB growing on demand).
# G1 treats Spark's memory pages (4 MB at a 1 GB ceiling) as humongous
# objects, and each one allocated while the old generation is above the
# marking threshold starts a concurrent cycle. At the default threshold
# (45 %) a ~130 MB old generation on the ~254 MB starting heap sat above
# it, so G1 paused back to back and its pause-time rule grew the heap by
# a different 30-240 MB in each run (perfbench operator_mix peak RSS
# 1,640-1,858 MB over ten runs); marking from 70 % ends those bursts.
JVM_OPTIONS = "-XX:MaxHeapFreeRatio=100 -XX:InitiatingHeapOccupancyPercent=70"

# the directory holding this package: Python workers see only their working
# directory and $PYTHONPATH, so a driver started elsewhere must hand it on
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "pangeo-forge-recipes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for correctness-at-scale:

    * AQE on — runtime shuffle-partition coalescing and skew-join splitting;
    * Arrow on — every engine UDF is Arrow-batched;
    * small Arrow batches — fragment payloads are MB-scale binaries, so
      records-per-batch stays low to bound task memory;
    * speculation off — region writes are idempotent, but two speculative
      attempts racing on one chunk's put would still double network IO
      (see reference non-idempotence note, ``transforms.py:680-684``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus) if cpus.isdigit() else 32, 32))
    ))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large batches for vectorized tabular operators; the zarr pipeline
        # (MB-scale binary payload rows) lowers this locally for its run
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.speculation", "false")
        # local-mode driver IS the executor: its heap grows to
        # spark.driver.memory as JVM_OPTIONS (above) lets it
        .config("spark.driver.memory", _DRIVER_MEM)
        .config("spark.driver.extraJavaOptions", JVM_OPTIONS)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # pin a timezone so NTZ↔LTZ casts (needed because watermarks only
        # accept LTZ event time) are lossless and identical on every
        # executor regardless of host-local timezone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, worker_path) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: Union[str, StructType],
) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` a DDL string or ``StructType``), built as a typed Arrow
    table. Below ``spark.sql.execution.arrow.localRelationThreshold`` Spark
    plans it as a JVM ``LocalRelation`` (``LocalTableScan``) in at most
    ``defaultParallelism`` slices: no Python task runs to produce it.
    ``spark.createDataFrame(list)`` instead pickles the rows through a
    Python RDD, which starts a pickle-mode Python daemon and worker pool
    of its own next to the one the package's UDFs use. A value that does
    not fit its column's type raises here; there is no fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
