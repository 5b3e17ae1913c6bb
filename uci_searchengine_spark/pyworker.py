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
"""

from __future__ import annotations

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


if __name__ == "__main__":
    # run from the package module (not __main__), so the installed
    # function reports the engine's module name
    from uci_searchengine_spark.pyworker import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
