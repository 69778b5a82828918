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

Spark also puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source
archive on the workers' path ahead of site-packages. ``zipimport`` caches
no bytecode, so every daemon start would compile pyspark from source.
When the installed pyspark and py4j have the archives' versions, the
daemon moves the archives behind them before it imports pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)

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


def _archived_package(entry: str) -> str | None:
    """The package an archive on the path ships: pyspark or py4j."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def prefer_installed_pyspark(path: list[str]) -> None:
    """Move the pyspark and py4j archives in ``path`` behind the installed
    packages, in place, when each installed ``__version__`` equals its
    archive's; otherwise leave ``path`` as it is."""
    archives = {pkg: entry for entry in path if (pkg := _archived_package(entry))}
    if set(archives) != {"pyspark", "py4j"}:
        return
    rest = [entry for entry in path if entry not in archives.values()]
    for pkg, archive in archives.items():
        spec = PathFinder.find_spec(pkg, rest)
        if spec is None or not spec.submodule_search_locations:
            return
        try:
            with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
                installed = _version(f.read())
            with zipfile.ZipFile(archive) as zf:
                archived = _version(zf.read(f"{pkg}/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            return
        if installed is None or installed != archived:
            return
    path[:] = rest + list(archives.values())


def main() -> None:
    prefer_installed_pyspark(sys.path)
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
