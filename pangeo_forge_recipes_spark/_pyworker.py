"""Per-task fixed costs of PySpark Python workers: a frozen import heap
and an import-cache guard.

Frozen import heap. After every task ``pyspark.daemon`` runs a full
``gc.collect()`` in the worker. A worker that has imported pandas,
pyarrow and this package tracks ~77k objects, almost all of them
module-level and alive for the life of the process; walking them takes
26-45 ms per task on a 4-vCPU Xeon VM. :func:`install_if_worker` calls
``gc.freeze()`` once, when the package is imported in a worker, which
moves every object alive at that point into the permanent generation:
later collections skip them and take 0.1-0.5 ms. Objects created
afterwards, task data included, are collected as before. The freeze is
done on every Python version.

Import-cache guard.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On Python < 3.12 that
call makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its whole archive directory. A worker holds one importer per
package directory it has imported from ``pyspark.zip`` (1,328 entries)
plus the py4j zip — 16 on a typical task — so each task re-parses the
same unchanged archives: about 0.13 CPU-s per task on a 4-vCPU Xeon VM,
and more than half of the worker CPU of a small-file pipeline.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from what that importer saw
when it last read it. A zip that is rewritten or replaced (``addPyFile``,
a redeployed archive) is therefore still picked up; an unchanged one is
no longer re-parsed per task. Python 3.12 made
``zipimporter.invalidate_caches`` lazy, so the guard is not needed there.

The package ``__init__`` freezes and installs the guard when it is
imported inside a worker, detected by ``"pyspark.worker" in sys.modules``
(the daemon runs as ``__main__``, so ``pyspark.daemon`` never shows up
there). Both therefore reach only workers that import the package: a
worker that runs nothing of it (the pickle-mode pool behind
``spark.createDataFrame(list)``, say) keeps both per-task costs, which is
why the package builds driver-side frames with ``session.local_df``. Neither is installed through
``spark.python.daemon.module``: that would import the package, and pandas
and pyarrow with it, into the daemon processes. The first task of each
worker therefore still pays one full invalidation and one full
collection; the freeze and the guard cover every later task of a reused
worker.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_STAMP_ATTR = "_pfr_archive_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_pfr_guard", False)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent). Importers that
    already exist are stamped with their archive's current state."""
    if installed():
        return
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat BEFORE the read: a change racing the read leaves an older
        # stamp behind, so the next call re-reads rather than missing it
        stamp = _stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP_ATTR, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP_ATTR, stamp)

    invalidate_caches._pfr_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            setattr(finder, _STAMP_ATTR, _stamp(finder.archive))


def install_if_worker() -> None:
    if "pyspark.worker" not in sys.modules:
        return
    gc.freeze()
    if sys.version_info < (3, 12):
        install()
