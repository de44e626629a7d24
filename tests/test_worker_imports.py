"""Stat-keyed zip import-cache invalidation installed by the extraction kernel.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 that re-reads every cached zip archive's
directory. These tests pin that, once the kernel has run, an unchanged
archive is not re-read and a changed one is re-read exactly once. No Spark.
"""
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pyxml_spark.pipeline.extract import _stat_keyed_zip_invalidation
from scripts.make_dist import build

eager_zip_reads = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, '_get_files'),
    reason='this CPython already reads zip directories lazily')

PROBE = 'worker_imports_probe_mod'


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """a real dist zip on sys.path with two importers over it (the package
    root and a subpackage, as pyspark.zip has), plus a per-archive
    ``_read_directory`` counter; the zipimporter class attribute is reset
    to the unhooked method and restored afterwards"""
    path = build(str(tmp_path / 'p.zip'))
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return real_read(archive_path)

    cls = zipimport.zipimporter
    unhooked = getattr(cls.invalidate_caches, '__wrapped__',
                       cls.invalidate_caches)
    monkeypatch.setattr(cls, 'invalidate_caches', unhooked)
    monkeypatch.setattr(zipimport, '_read_directory', counting_read)
    monkeypatch.syspath_prepend(path)
    sub = os.path.join(path, 'pyxml_spark')
    for entry in (path, sub):
        monkeypatch.setitem(sys.path_importer_cache, entry,
                            zipimport.zipimporter(entry))
    del reads[:]
    yield path, reads
    sys.modules.pop(PROBE, None)
    zipimport._zip_directory_cache.pop(path, None)


def _reads_of(reads, path):
    return sum(1 for p in reads if p == path)


@eager_zip_reads
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 2  # unhooked: once per importer
    del reads[:]
    _stat_keyed_zip_invalidation()
    assert _reads_of(reads, path) == 1  # installing reads each archive once
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert _reads_of(reads, path) == 0


@eager_zip_reads
def test_changed_archive_is_reread_once_and_imports(archive):
    path, reads = archive
    _stat_keyed_zip_invalidation()
    with zipfile.ZipFile(path, 'a') as zf:
        zf.writestr(f'{PROBE}.py', 'VALUE = 7\n')
    del reads[:]
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1
    assert importlib.import_module(PROBE).VALUE == 7
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1


@eager_zip_reads
def test_install_wraps_once(archive):
    _stat_keyed_zip_invalidation()
    hooked = zipimport.zipimporter.invalidate_caches
    _stat_keyed_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is hooked
    assert not hasattr(hooked.__wrapped__, '__wrapped__')


def test_lazy_zipimporter_is_left_alone(monkeypatch):
    class LazyZipImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    original = LazyZipImporter.invalidate_caches
    real = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport, 'zipimporter', LazyZipImporter)
    _stat_keyed_zip_invalidation()
    assert LazyZipImporter.invalidate_caches is original
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is real
