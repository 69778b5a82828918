"""Spark's Python worker daemon, with zip archives re-read only when changed.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
pyspark's worker calls ``importlib.invalidate_caches()`` before every task
so that a file added by ``addPyFile`` imports. On CPython before 3.12 that
makes each ``zipimporter`` on the worker's path re-read its archive's whole
directory in Python: ``pyspark.zip`` once per imported subpackage, and the
spark-core jar. On 4 cores that was 130-245 ms before each task's function
started. Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stat it recorded at its last
read, so a new or rewritten archive is still read. The daemon imports
pyspark and the standard library only, never the engine's modules.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat = None
    if stat is None or stat != getattr(self, "_read_stat", None):
        _read_archive(self)
        self._read_stat = stat


def install_zip_guard() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 12):
        install_zip_guard()
        # forked workers inherit the importers with their stats recorded
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
