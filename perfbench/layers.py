"""Which end-to-end metric each per-layer metric should move, and on
which workloads it is heavy or light. Written down before any
optimisation is measured. A traced result carries the entry of each of
its metrics; ``test_perfbench`` keeps the table complete."""

from __future__ import annotations

# metric-name prefix -> (end-to-end metrics it should move, heavy on, light or none on).
# op_s.p50 and mb_per_s are the walls every timed run stores beside the
# end-to-end metrics (run.WALLS).
# rechunk_zarr and zarr_scan are runnable by name but are not BENCHMARK.json's
# workloads, which are daily_netcdf4 and operator_mix.
SHOULD_MOVE = {
    "session.": ("setup_s", "every workload", "none"),
    "trace.overhead_frac": ("none: the cost of tracing itself, kept near 0", "every workload", "none"),
    "spark.": (
        "op_s.p50, cpu_s_per_op",
        "JVM<->Python and shuffle bytes: daily_netcdf4 (payload mode); "
        "metadata-only exchange: rechunk_zarr; job count: operator_mix",
        "none: every operation runs Spark jobs",
    ),
    "spark.outside_jobs_s": (
        "op_s.p50",
        "daily_netcdf4 (driver-side template, consolidation, reference merge)",
        "operator_mix",
    ),
    "cpu.": (
        "cpu_s_per_op, peak_rss_mb",
        "python_workers: rechunk_zarr, daily_netcdf4; jvm: operator_mix (gopher_c4_filter)",
        "driver: every workload",
    ),
    "kernel.split_mb_s": ("op_s.p50, mb_per_s", "daily_netcdf4 (payload split)", "operator_mix"),
    "kernel.frame_mb_s": ("op_s.p50, mb_per_s", "daily_netcdf4 (payload frames)", "rechunk_zarr, operator_mix"),
    "kernel.unframe_mb_s": ("op_s.p50, mb_per_s", "daily_netcdf4 (combine side)", "rechunk_zarr, operator_mix"),
    "kernel.combine_mb_s": ("op_s.p50, mb_per_s", "rechunk_zarr, daily_netcdf4", "operator_mix"),
    "kernel.zarr_put_mb_s": ("op_s.p50, mb_per_s", "rechunk_zarr (uncompressed puts)", "operator_mix"),
    "kernel.zarr_get_mb_s": ("op_s.p50, mb_per_s", "rechunk_zarr (range re-reads of the sources)", "operator_mix"),
    "kernel.zarr_put_zstd_mb_s": ("op_s.p50, mb_per_s", "daily_netcdf4", "rechunk_zarr, operator_mix"),
    "kernel.zarr_get_zstd_mb_s": ("op_s.p50", "zarr_scan", "both benchmark workloads"),
    "kernel.slab_read_mb_s": ("op_s.p50", "zarr_scan (the DataSource task body)", "both benchmark workloads"),
    "kernel.hdf5_read_mb_s": ("op_s.p50, mb_per_s", "daily_netcdf4", "rechunk_zarr, operator_mix"),
    "kernel.hdf5_schema_per_s": ("op_s.p50", "daily_netcdf4 (schema pass)", "rechunk_zarr, operator_mix"),
    "kernel.hdf5_scan_per_s": ("op_s.p50", "daily_netcdf4 (kerchunk scan)", "rechunk_zarr, operator_mix"),
    "kernel.schema_union_per_s": ("op_s.p50", "daily_netcdf4 (schema reduce over 60 files)", "operator_mix"),
    "kernel.png_decode_mb_s": ("op_s.p50, cpu_s_per_op", "operator_mix (resize_images)", "the two Zarr workloads"),
    "kernel.phash_per_s": ("op_s.p50", "none: phash_near_dup is outside operator_mix", "every workload"),
}


def entry_for(metric: str):
    """The most specific ``SHOULD_MOVE`` entry for a metric name."""
    keys = [k for k in SHOULD_MOVE if metric == k or (k.endswith(".") and metric.startswith(k))]
    return SHOULD_MOVE[max(keys, key=len)] if keys else None
