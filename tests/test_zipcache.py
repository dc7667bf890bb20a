"""zipimport directory cache kept across importlib.invalidate_caches()."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark import _zipcache
from mhdb_tables2turtles_spark.web.extract import extract_text_col


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path, and a counter of directory reads of it."""
    path = str(tmp_path / "mods.zip")
    _write_archive(path, {"m1": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_patch_installed_below_313():
    module = zipimport.zipimporter.invalidate_caches.__module__
    installed = module == _zipcache.__name__
    assert installed == (sys.version_info < (3, 13))


def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    assert importlib.import_module("m1").X == 1
    importlib.invalidate_caches()  # first call after the import records the archive
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n
    assert importlib.import_module("m1").X == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.import_module("m1")
    importlib.invalidate_caches()
    n = len(reads)
    _write_archive(path, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) > n
    assert importlib.import_module("m2").Y == 2


def test_deleted_archive_drops_its_directory(archive):
    path, _ = archive
    importlib.import_module("m1")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    assert path in zipimport._zip_directory_cache
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert importer._files == {}
    # and an archive that comes back is read again
    _write_archive(path, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("m2").Y == 2


def test_patch_reaches_python_workers(spark):
    """Package UDFs import the package in the Python worker, which installs
    the patch there: a later UDF in the same workers sees it."""
    df = spark.createDataFrame(
        [(f"<p>page {i}</p>".encode(),) for i in range(8)], "html binary"
    ).repartition(2)
    texts = [r.t for r in df.select(extract_text_col(F.col("html")).alias("t")).collect()]
    assert sorted(texts) == sorted(f"page {i}" for i in range(8))

    # nested, so cloudpickle ships it by value and unpickling it imports
    # nothing from the package
    @F.pandas_udf("string")
    def invalidate_module(s: pd.Series) -> pd.Series:
        import zipimport as zi

        return s.map(lambda _: zi.zipimporter.invalidate_caches.__module__)

    got = {r[0] for r in df.select(invalidate_module(F.col("html"))).collect()}
    expected = _zipcache.__name__ if sys.version_info < (3, 13) else "zipimport"
    assert got == {expected}
