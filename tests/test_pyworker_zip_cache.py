"""The zip-directory cache fix in ``_pyworker``: an unchanged archive on
``sys.path`` is not re-read by ``importlib.invalidate_caches()``, a
changed or removed one still is, the wrapper is live inside Spark's
Python workers, and Python >= 3.12 is left alone."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_connector_lance_spark import _pyworker

before_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the wrapper is only installed before 3.12")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A fresh archive on sys.path with its importer cached, plus a
    counter of directory reads of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"fcls_zc_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("fcls_zc_a")  # caches the archive's importer
    sys.modules.pop("fcls_zc_a")
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    sys.modules.pop("fcls_zc_a", None)
    zipimport._zip_directory_cache.pop(archive, None)
    sys.path_importer_cache.pop(archive, None)


@before_312
def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # the first wrapped call records the stamp
    assert len(reads) <= 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("fcls_zc_a").VALUE == "a"


@before_312
def test_changed_zip_is_reread_and_new_module_imports(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"fcls_zc_a": "VALUE = 'a'\n",
                         "fcls_zc_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    try:
        assert importlib.import_module("fcls_zc_b").VALUE == "b"
    finally:
        sys.modules.pop("fcls_zc_b", None)
    # same size, new mtime: still a change
    reads.clear()
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads == [archive]


@before_312
def test_removed_zip_drops_its_directory(zip_on_path):
    archive, _ = zip_on_path
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


@before_312
def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__module__ == _pyworker.__name__
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_python_312_leaves_zipimport_untouched(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12):
        assert current.__module__ == "zipimport"
        return
    original = current._fcls_original
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def _probe(batches):
    import zipimport as zi

    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"module": [zi.zipimporter.invalidate_caches.__module__]})


@before_312
def test_wrapper_is_active_in_spark_python_workers(spark):
    rows = (spark.range(0, 4, numPartitions=2)
            .mapInPandas(_probe, schema="module string").collect())
    assert rows and {r.module for r in rows} == {_pyworker.__name__}
