"""Per-task worker costs (``_pyworker``): the import-cache guard leaves
unchanged zip archives unread on ``importlib.invalidate_caches()`` and
re-reads changed ones, and the package installs it in every Python
worker; the package freezes the import heap in every worker, and only
there."""

from __future__ import annotations

import gc
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pangeo_forge_recipes_spark import _pyworker

zip_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter caches lazily from 3.12"
)


@zip_guard
def test_guard_skips_unchanged_zip_and_rereads_changed(tmp_path, monkeypatch):
    zpath = tmp_path / "mods.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(zpath))
    for name in ("m_a", "m_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m_a

    assert m_a.VALUE == "a"
    # restored at teardown, so the guard does not outlive this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _pyworker.install()

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m_a.py", "VALUE = 'a'\n")
        z.writestr("m_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads == [str(zpath)]
    import m_b

    assert m_b.VALUE == "b"


@zip_guard
def test_guard_installed_in_every_worker(spark):
    def probe(batches):
        import os

        import pangeo_forge_recipes_spark._pyworker as w

        for pdf in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()] * len(pdf), "installed": [w.installed()] * len(pdf)}
            )

    rows = (
        spark.range(0, 64, 1, numPartitions=8)
        .mapInPandas(probe, "pid long, installed boolean")
        .collect()
    )
    assert len(rows) == 64
    assert all(r["installed"] for r in rows), {r["pid"] for r in rows if not r["installed"]}


def test_import_heap_frozen_in_every_worker(spark):
    def probe(batches):
        import gc
        import os

        import pangeo_forge_recipes_spark  # noqa: F401  (as any package UDF)

        for pdf in batches:
            n = len(pdf)
            yield pd.DataFrame(
                {"pid": [os.getpid()] * n, "frozen": [gc.get_freeze_count()] * n}
            )

    rows = (
        spark.range(0, 64, 1, numPartitions=8)
        .mapInPandas(probe, "pid long, frozen long")
        .collect()
    )
    assert len(rows) == 64
    assert all(r["frozen"] > 0 for r in rows), {r["pid"] for r in rows if not r["frozen"]}


def test_driver_import_does_not_freeze():
    import pangeo_forge_recipes_spark

    assert gc.get_freeze_count() == 0
    repo = os.path.dirname(os.path.dirname(pangeo_forge_recipes_spark.__file__))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import gc, pangeo_forge_recipes_spark; print(gc.get_freeze_count())",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "0"


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A driver started outside the repository, with no $PYTHONPATH, still
    runs Python UDFs that import the package: ``get_spark`` hands the
    package's parent directory to the workers."""
    import pangeo_forge_recipes_spark

    repo = os.path.dirname(os.path.dirname(pangeo_forge_recipes_spark.__file__))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from pangeo_forge_recipes_spark.session import get_spark

spark = get_spark(master="local[1]")

@F.udf("string")
def package_name(_):
    import pangeo_forge_recipes_spark
    return pangeo_forge_recipes_spark.__name__

print("GOT", spark.range(1).select(package_name("id")).collect()[0][0])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "GOT pangeo_forge_recipes_spark" in out.stdout, out.stderr[-3000:]
