"""The worker daemon's stat-guarded zip refresh (``worker_daemon``) and the
workers' import path that ``session.get_spark`` sets.

The guard keeps what pyspark's per-task ``importlib.invalidate_caches()``
is for: an archive added by ``addPyFile`` imports, and a rewritten archive
is read again. It only skips re-reading an archive that has not changed.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from wnba_data_pipeline_spark import session, worker_daemon

from .conftest import REPO

needs_zip_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 does not re-read archives on invalidation"
)


@pytest.fixture
def classic_spark(spark):
    if type(spark).__module__.startswith("pyspark.sql.connect"):
        pytest.skip("the worker daemon is a core conf of a classic session")
    return spark


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@needs_zip_guard
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"zg_a_{tag}", f"zg_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {mod_a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_if_changed

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module(mod_a).X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert reads.count(archive) == 1

        # one more module, so the size (and normally the mtime) changes
        _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
        importer.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module(mod_b).Y == 2
        importer.invalidate_caches()
        assert reads.count(archive) == 2
    finally:
        for name in (mod_a, mod_b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@needs_zip_guard
def test_python_workers_run_the_guard(classic_spark):
    assert classic_spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "wnba_data_pipeline_spark.worker_daemon"
    )

    def report(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        code = getattr(fn, "__code__", None)
        where = f"{fn.__qualname__}@{code.co_filename if code else '<builtin>'}"
        for _ in batches:
            yield pd.DataFrame({"guard": [where]})

    got = {r.guard for r in classic_spark.range(4, numPartitions=2).mapInPandas(report, "guard string").collect()}
    assert got == {f"_invalidate_if_changed@{worker_daemon.__file__}"}


def test_python_workers_import_installed_pyspark(classic_spark):
    """The daemon moved pyspark.zip and the py4j archive behind the
    installed packages, so workers import compiled modules, not sources
    read from an archive."""

    def report(batches):
        import pandas as pd
        import py4j
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"pyspark": [pyspark.__file__], "py4j": [py4j.__file__]})

    rows = classic_spark.range(4, numPartitions=2).mapInPandas(report, "pyspark string, py4j string").collect()
    files = {f for r in rows for f in (r.pyspark, r.py4j)}
    assert len(files) == 2
    assert not any(".zip" in f for f in files), files


def _archive(path, pkg: str, version: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/version.py", f"__version__: str = {version!r}\n")
    return str(path)


def test_version_mismatch_keeps_archives_first(tmp_path):
    import py4j.version
    import pyspark

    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = _archive(lib / "pyspark.zip", "pyspark", pyspark.__version__)
    py4j_zip = _archive(lib / "py4j-0.0.0-src.zip", "py4j", py4j.version.__version__)
    installed = [p for p in sys.path if ".zip" not in p]

    path = [pyspark_zip, py4j_zip, *installed]
    worker_daemon.prefer_installed_pyspark(path)
    assert path == [*installed, pyspark_zip, py4j_zip]

    _archive(lib / "pyspark.zip", "pyspark", "0.0.0")
    path = [pyspark_zip, py4j_zip, *installed]
    worker_daemon.prefer_installed_pyspark(path)
    assert path == [pyspark_zip, py4j_zip, *installed]


def test_add_py_file_imports_on_warm_workers(classic_spark, tmp_path):
    sc = classic_spark.sparkContext
    assert sc.range(0, 8, numSlices=4).map(lambda x: x + 1).sum() == 36  # warm workers
    name = f"added_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    sc.addPyFile(str(archive))

    def use(x):
        return importlib.import_module(name).VALUE + x

    assert sc.range(0, 4, numSlices=4).map(lambda x: use(1)).collect() == [42] * 4
    sys.modules.pop(name, None)


class _RecordingBuilder:
    def __init__(self):
        self.confs = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.mark.parametrize("caller_path", [None, "/srv/extra-libs"])
def test_get_spark_puts_package_root_first_on_worker_path(monkeypatch, caller_path):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    extra = {"spark.executorEnv.PYTHONPATH": caller_path} if caller_path else {}
    session.get_spark("path-probe", extra_confs=extra)
    assert session.PACKAGE_ROOT == str(REPO)
    want = os.pathsep.join(p for p in (str(REPO), caller_path) if p)
    assert builder.confs["spark.executorEnv.PYTHONPATH"] == want
    assert builder.confs["spark.python.daemon.module"] == "wnba_data_pipeline_spark.worker_daemon"


_OUTSIDE_REPO = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext

    from wnba_data_pipeline_spark.session import get_spark

    spark = get_spark("worker-path-probe")
    try:
        rows = spark.range(6, numPartitions=2).mapInPandas(
            lambda batches: (b * 2 for b in batches), "id long"
        ).collect()
        assert sorted(r.id for r in rows) == [0, 2, 4, 6, 8, 10], rows
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    print("ok")
    """
)


def test_udf_runs_when_package_found_only_through_sys_path(tmp_path):
    """Started outside the repo with no ``PYTHONPATH``, the driver finds the
    package through ``sys.path``; the workers find it (and the daemon
    module) only through the path ``get_spark`` gives them."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_LOCAL_IP="127.0.0.1", SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO.format(repo=str(REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0 and done.stdout.strip().endswith("ok"), done.stderr[-4000:]
