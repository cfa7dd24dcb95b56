"""memtune.lazy_zip_invalidation: Python 3.12 zipimport invalidation
semantics on older interpreters. No Spark."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from rle_spark.memtune import lazy_zip_invalidation


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module lazyzip_a, first on sys.path, with a fresh
    sys.path_importer_cache; sys.path, the cache and sys.modules are
    restored afterwards."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("lazyzip_a.py", "X = 1\n")
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(path)
    modules = set(sys.modules)
    yield path
    for name in set(sys.modules) - modules:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(path, None)


def _count_directory_reads(monkeypatch) -> list:
    reads: list = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_caches_reads_no_zip_directory(archive, monkeypatch):
    import lazyzip_a  # noqa: F401 -- puts a zipimporter in the cache
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    lazy_zip_invalidation()
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []


def test_module_added_after_invalidation_imports(archive, monkeypatch):
    import lazyzip_a
    lazy_zip_invalidation()
    lazy_zip_invalidation()  # a second call is harmless
    assert lazyzip_a.X == 1
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("lazyzip_b.py", "Y = 2\n")
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    import lazyzip_b
    assert lazyzip_b.Y == 2
    assert reads == [archive]  # read once, by the lookup that needed it


def test_deleted_archive_import_is_module_not_found(archive):
    import lazyzip_a  # noqa: F401
    lazy_zip_invalidation()
    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        import lazyzip_c  # noqa: F401


def test_noop_from_python_312(archive, monkeypatch):
    import lazyzip_a  # noqa: F401
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    lazy_zip_invalidation()
    assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter
