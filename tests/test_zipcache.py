"""zipimport directory reuse across ``importlib.invalidate_caches()``
(``dask_relabeling_spark._zipcache``)."""
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from dask_relabeling_spark import _zipcache

MOD = "zipcache_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", body)


@pytest.fixture
def zipped_module(tmp_path):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop(MOD, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _reads_of(archive, monkeypatch) -> list:
    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(zipped_module, monkeypatch):
    assert importlib.import_module(MOD).VALUE == 1
    importlib.invalidate_caches()  # the first invalidation may re-read
    reads = _reads_of(zipped_module, monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).VALUE == 1
    assert reads == []


def test_rewritten_zip_is_reread(zipped_module):
    assert importlib.import_module(MOD).VALUE == 1
    importlib.invalidate_caches()
    before = os.stat(zipped_module)
    _write_zip(zipped_module, "VALUE = 'second body, longer'\n")
    os.utime(zipped_module, ns=(before.st_atime_ns,
                                before.st_mtime_ns + 1_000_000_000))
    after = os.stat(zipped_module)
    assert (after.st_size, after.st_mtime_ns) != (before.st_size,
                                                  before.st_mtime_ns)
    importlib.invalidate_caches()
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).VALUE == "second body, longer"


def test_installed_only_before_312():
    installed = (zipimport.zipimporter.invalidate_caches.__module__
                 == _zipcache.__name__)
    assert installed == (sys.version_info < (3, 12))


def test_installed_in_python_worker(spark):
    def probe(batches):
        installed = (zipimport.zipimporter.invalidate_caches.__module__
                     == _zipcache.__name__)
        for _ in batches:
            yield pd.DataFrame({"installed": [installed]})

    rows = (spark.range(0, 2, 1, 2)
            .mapInPandas(probe, "installed boolean").collect())
    assert [r.installed for r in rows] == [sys.version_info < (3, 12)] * 2
