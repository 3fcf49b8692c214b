"""``disq_original_spark.pydaemon``: zip-directory re-reads only on change.

- In process: after ``install()``, ``importlib.invalidate_caches()`` reads
  no unchanged archive again; a rewritten archive (new mtime and size)
  serves its new module as a stock re-read would; an archive whose stat
  fails takes the stock re-read, and a vanished one is dropped.
- Through ``get_spark``: a Python worker of either pool (a ``mapInArrow``
  task, a Python-RDD task) re-reads no archive on
  ``importlib.invalidate_caches()``.  The stock daemon re-reads about 16.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from disq_original_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13+ zipimport reads lazily; the patch is off"
)


def _count_directory_reads(fn) -> int:
    """Directory reads made by ``fn()``."""
    n = 0
    read = zipimport._read_directory

    def counting(archive):
        nonlocal n
        n += 1
        return read(archive)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = read
    return n


def _reads_on_invalidate() -> tuple[int, int]:
    """(directory reads one ``importlib.invalidate_caches()`` makes, zip
    importers in this process)."""
    n = _count_directory_reads(importlib.invalidate_caches)
    importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    return n, importers


def _write_zip(path, modules: dict[str, str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture
def patched(tmp_path, monkeypatch):
    """The patch installed in this process, undone afterwards, with a zip
    holding ``zd_first`` on ``sys.path``."""
    stock = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zd_first": "VALUE = 1\n"}, 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(str(archive))
    pydaemon.install()
    yield archive
    zipimport._read_directory, zipimport.zipimporter.invalidate_caches = stock
    pydaemon._stamps.clear()
    zipimport._zip_directory_cache.pop(str(archive), None)
    sys.path_importer_cache.pop(str(archive), None)
    for name in ("zd_first", "zd_second"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_read_again(patched):
    assert importlib.import_module("zd_first").VALUE == 1
    assert _count_directory_reads(lambda: [importlib.invalidate_caches() for _ in range(2)]) == 0
    assert importlib.import_module("zd_first").VALUE == 1


def test_rewritten_archive_serves_its_new_module(patched):
    importlib.import_module("zd_first")
    _write_zip(patched, {"zd_first": "VALUE = 1\n", "zd_second": "VALUE = 2\n"},
               2_000_000_000_000_000_000)
    assert _count_directory_reads(importlib.invalidate_caches) == 1
    assert importlib.import_module("zd_second").VALUE == 2
    assert _count_directory_reads(importlib.invalidate_caches) == 0


def test_failed_stat_takes_the_stock_reread(patched, monkeypatch):
    importlib.import_module("zd_first")
    stat = os.stat

    def failing(path, *args, **kwargs):
        if os.fspath(path) == str(patched):
            raise PermissionError(path)
        return stat(path, *args, **kwargs)

    monkeypatch.setattr(pydaemon.os, "stat", failing)
    assert _count_directory_reads(importlib.invalidate_caches) == 1
    assert _count_directory_reads(importlib.invalidate_caches) == 1
    monkeypatch.setattr(pydaemon.os, "stat", stat)

    patched.unlink()
    importlib.invalidate_caches()
    assert str(patched) not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[str(patched)]._files == {}


def _arrow_probe(batches):
    for _ in batches:
        n, importers = _reads_on_invalidate()
        yield pa.RecordBatch.from_pydict({"reads": [n], "importers": [importers]})


def test_workers_of_both_pools_skip_unchanged_archives(spark):
    sql = spark.range(0, 2, 1, 2).mapInArrow(_arrow_probe, "reads long, importers long").collect()
    rdd = spark.sparkContext.parallelize(range(2), 2).mapPartitions(
        lambda _: [_reads_on_invalidate()]
    ).collect()
    for reads, importers in [tuple(r) for r in sql] + rdd:
        assert importers > 0  # the workers import from zips and jars
        assert reads == 0
