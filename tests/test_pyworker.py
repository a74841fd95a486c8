"""The per-task import-cache guard (``_pyworker``): unchanged zip
archives are not re-read on ``importlib.invalidate_caches()``, changed
ones are, and the package installs the guard in every Python worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pangeo_forge_recipes_spark import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter caches lazily from 3.12"
)


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
