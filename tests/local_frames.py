"""Plan checks for driver-side frames: they must be Arrow-built JVM
``LocalTableScan``s (``session.local_df``), never the pickled Python RDD
(``Scan ExistingRDD``) behind ``spark.createDataFrame(list)``."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_local_scan(df) -> None:
    plan = executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@contextmanager
def frames_built_locally():
    """Record every DataFrame ``SparkSession.createDataFrame`` returns in
    the block; on exit assert that at least one was built and that each
    is a local scan."""
    made = []
    real = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        made.append(df)
        return df

    SparkSession.createDataFrame = spy
    try:
        yield made
    finally:
        SparkSession.createDataFrame = real
    assert made, "no DataFrame was built"
    for df in made:
        assert_local_scan(df)
