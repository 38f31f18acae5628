"""Importing ``dbus_spark`` gates zip importers' re-reads (Spark-free).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Before Python 3.13 that re-reads the central directory of
every archive on ``sys.path`` once per importer; with the package
imported, an archive is re-read only when its stamp changed.
"""

import importlib
import os
import pkgutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

import dbus_spark
from dbus_spark import _worker_import

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(dbus_spark.__file__)))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding ``zmod_a`` and the package ``zpkg`` on
    ``sys.path``, and the list of archive paths ``_read_directory``
    was called with."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/inner.py", "VALUE = 'inner'\n")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zmod_a", "zmod_b", "zpkg", "zpkg.inner"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _import_from(archive):
    import zmod_a
    import zpkg.inner

    assert zmod_a.__file__.startswith(archive)
    assert zpkg.inner.VALUE == "inner"
    # two importers of the one archive: its root and the package's path
    return sum(
        isinstance(f, zipimport.zipimporter) and f.archive == archive
        for f in sys.path_importer_cache.values()
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no re-read to gate")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert _import_from(archive) == 2
    del reads[:]
    # the first call reads each archive once, not once per importer
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module("zpkg.inner").VALUE == "inner"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no re-read to gate")
def test_stock_method_rereads_per_importer(zip_on_path, monkeypatch):
    """The control: without the gate every call re-reads the archive
    once per importer."""
    archive, reads = zip_on_path
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        _worker_import._stock_invalidate,
    )
    assert _import_from(archive) == 2
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 6


def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    _import_from(archive)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zmod_b")
    # rewrite in place: the inode stays, the size and mtime move
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zmod_b.py", "VALUE = 'b'\n")
    del reads[:]
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zmod_b").VALUE == "b"


def test_missing_archive_empties_its_importers(zip_on_path):
    archive, _ = zip_on_path
    _import_from(archive)
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert importers and all(f._files == {} for f in importers)


def test_gate_is_installed_only_before_313(monkeypatch):
    stock = _worker_import._stock_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _worker_import.gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stock
    monkeypatch.setattr(sys, "version_info", (3, 12, 1))
    _worker_import.gate_zip_invalidation()
    assert (
        zipimport.zipimporter.invalidate_caches
        is _worker_import._invalidate_caches
    )


def _engine_udfs():
    """Every module-level pandas UDF of the engine, by its function."""
    udfs = {}
    for mod in pkgutil.walk_packages(dbus_spark.__path__, "dbus_spark."):
        for obj in vars(importlib.import_module(mod.name)).values():
            if getattr(obj, "evalType", None) is not None:
                udfs.setdefault(obj.func.__qualname__, obj.func)
    return udfs


def test_engine_udfs_are_listed():
    assert set(_engine_udfs()) == {
        "_doc_enrich_v",
        "_turn_enrich_v",
        "fingerprint64_v",
        "lang_id_v",
        "quality_score_v",
        "stopword_ratio_v",
        "token_count_v",
    }


@pytest.mark.parametrize("name", sorted(_engine_udfs()))
def test_unpickled_udf_imports_the_package(name, tmp_path):
    """A worker runs an engine UDF only after unpickling it; that must
    import ``dbus_spark``, so the gate is installed in the worker."""
    from pyspark import cloudpickle

    blob = cloudpickle.dumps(_engine_udfs()[name])
    probe = (
        "import pickle, sys\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print('dbus_spark' in sys.modules)\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        input=blob,
        capture_output=True,
        cwd=tmp_path,
        env=env,
        check=True,
    )
    assert out.stdout.decode().strip() == "True", out.stderr.decode()
