"""The Python worker daemon (``daemon.py``) and how ``get_spark`` picks it:
zip archives are re-read only when they change, in-process and in a
real worker, and the fallbacks to ``pyspark.daemon``."""

from __future__ import annotations

import importlib
import os
import site
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import SparkContext

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark import daemon, session

eager_only = pytest.mark.skipif(
    not daemon.eager_zipimport(), reason="zipimport re-reads lazily here"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name.replace('.', '/')}.py", f"NAME = {name!r}\n")


@eager_only
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """With the stat-checked invalidation, importers primed once (one read
    shared by the archive's two importers: its root and a subpackage) do
    not re-read an unchanged archive; a rewritten one is re-read by each
    importer, and a module added to it imports."""
    archive = str(tmp_path / "mods.zip")
    v1 = ["tsknn_zip_a", "tsknn_zip_pkg/__init__", "tsknn_zip_pkg.sub"]
    _write_zip(archive, v1)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    for name in ("tsknn_zip_a", "tsknn_zip_b", "tsknn_zip_pkg", "tsknn_zip_pkg.sub"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tsknn_zip_pkg.sub").NAME == "tsknn_zip_pkg.sub"
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2

    reads = []
    orig = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or orig(p))
    daemon._prime()
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, v1 + ["tsknn_zip_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 3
    assert importlib.import_module("tsknn_zip_b").NAME == "tsknn_zip_b"
    importlib.invalidate_caches()
    assert reads.count(archive) == 3


@eager_only
def test_worker_tasks_reread_no_archive(spark):
    """In a get_spark session, a task's importlib.invalidate_caches() reads
    no zip directory: on the first task of a freshly started worker and
    on the same worker reused; and the worker's collector skips what the
    daemon imported (frozen before the fork). A distinct interpreter path
    (the same binary) makes Spark start a new daemon for this test's
    UDFs, so the first task is a new worker's first."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == daemon.__name__

    def probe(batches):
        import gc
        import importlib as il
        import os as o
        import sys as s
        import zipimport as zi

        task = getattr(s, "_tsknn_probe_tasks", 0)
        s._tsknn_probe_tasks = task + 1
        reads = []
        orig = zi._read_directory
        zi._read_directory = lambda p: reads.append(p) or orig(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = orig
        dirs: dict = {}  # archive -> ids of its importers' directory dicts
        for f in s.path_importer_cache.values():
            if isinstance(f, zi.zipimporter):
                dirs.setdefault(f.archive, set()).add(id(f._files))
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [o.getpid()], "task": [task], "reads": [len(reads)],
            "zips": [sum(map(len, dirs.values()))], "dirs": [max(map(len, dirs.values()))],
            "frozen": [gc.get_freeze_count()],
        })

    exec_path = sc.pythonExec
    sc.pythonExec = os.path.join(os.path.dirname(sys.executable), ".", os.path.basename(sys.executable))
    try:
        df = spark.range(1, numPartitions=1).mapInPandas(
            probe, "pid long, task long, reads long, zips long, dirs long, frozen long"
        )
        first, reused = df.collect()[0], df.collect()[0]
    finally:
        sc.pythonExec = exec_path
    assert (first.task, reused.task, reused.pid) == (0, 1, first.pid)
    assert first.zips >= 1 and first.frozen > 10_000
    assert (first.reads, reused.reads) == (0, 0)
    # the first task's own invalidation re-read nothing either: each
    # archive's importers still share the one read the daemon primed
    assert first.dirs == 1


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """daemon_module() reads this process's working directory and
    PYTHONPATH (no running JVM), all pointing away from the package."""
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.setattr(site, "getsitepackages", lambda: [str(tmp_path)])
    monkeypatch.setattr(site, "getusersitepackages", lambda: str(tmp_path))
    monkeypatch.setattr(daemon, "eager_zipimport", lambda: True)
    return os.path.dirname(os.path.dirname(os.path.abspath(daemon.__file__)))


def test_daemon_module_falls_back_when_zipimport_is_lazy(monkeypatch):
    monkeypatch.setattr(daemon, "eager_zipimport", lambda: False)
    assert session.daemon_module() == "pyspark.daemon"


def test_daemon_module_falls_back_when_package_not_on_a_plain_path(no_jvm):
    assert session.daemon_module() == "pyspark.daemon"


@pytest.mark.parametrize("where", ["cwd", "pythonpath", "site"])
def test_daemon_module_picks_package_daemon_when_importable(no_jvm, monkeypatch, where):
    parent = no_jvm
    if where == "cwd":
        monkeypatch.chdir(parent)
    elif where == "pythonpath":
        monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", parent]))
    else:
        monkeypatch.setattr(site, "getsitepackages", lambda: ["/nonexistent", parent])
    assert session.daemon_module() == daemon.__name__


@eager_only
def test_daemon_module_reads_the_running_jvm(spark):
    """With a JVM up, the working directory and PYTHONPATH come from it;
    this suite's workers import the package, so the package daemon."""
    assert session.daemon_module() == daemon.__name__
