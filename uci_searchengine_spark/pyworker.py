"""Python worker daemon of the engine's Spark sessions (``python -m``).

Every Python task starts with ``importlib.invalidate_caches()``
(pyspark's ``setup_spark_files``). Before CPython 3.13 that call makes
every ``zipimporter`` re-parse its archive's whole directory in pure
Python: ``pyspark.zip``, ``py4j-*.zip`` and the Spark jars on the
worker's path, ~27k entries, 150-290 ms per task on a 4-core host.
``install`` makes a zipimporter re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since it last read it, so
a rewritten zip is still seen. ``session.get_spark`` names this module
as ``spark.python.daemon.module`` on local masters.

Before it forks, the daemon also imports what the engine's tasks import
(``preload``: numpy, pandas, pyarrow, pyspark's worker and the query
path's engine modules) and then freezes its heap (``gc.freeze``): a
forked worker starts with those modules loaded, shares their pages
with the daemon, and the ``gc.collect()`` pyspark's daemon runs after
every task scans only the task's own objects (unfrozen, that collect
walked every module object, ~15 ms a task).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or getattr(self, "_engine_stamp", None) != stamp:
        _reread(self)
        self._engine_stamp = stamp


def install() -> None:
    if sys.version_info < (3, 13):  # 3.13 made the re-read lazy
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp the daemon's importers once, before it forks workers
        importlib.invalidate_caches()


# what the engine's Python tasks import: loaded once in the daemon, not
# in every forked worker
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.compute",
    "pyarrow.parquet",
    "pyspark.worker",
    "uci_searchengine_spark.operators.filtered",
    "uci_searchengine_spark.operators.index_build",
    "uci_searchengine_spark.operators.local_search",
    "uci_searchengine_spark.operators.tombstones",
    "uci_searchengine_spark.operators.wand",
)


def preload() -> None:
    """Import ``PRELOAD``, then freeze every object alive so far out of
    the cyclic GC (``gc.freeze``): forked workers inherit the modules
    and never touch their pages in a collection."""
    for name in PRELOAD:
        importlib.import_module(name)
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    # run from the package module (not __main__), so the installed
    # function reports the engine's module name
    from uci_searchengine_spark.pyworker import install as _install
    from uci_searchengine_spark.pyworker import preload as _preload
    from pyspark.daemon import manager

    _install()
    _preload()
    manager()
