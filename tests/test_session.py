"""Importing spatial_spark.session makes zipimport re-read an archive's
directory only when the archive has changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from spatial_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimport caches lazily itself")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip with one module on sys.path, imported once so its
    zipimporter sits in sys.path_importer_cache."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zguard_a").X == 1
    return path


def _count_reads(monkeypatch, path):
    """List that gets one entry per _read_directory call on ``path``."""
    reads, real = [], zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_second_invalidation_reads_nothing(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1          # the first call on an importer reads
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_archive_is_reread(archive):
    importlib.invalidate_caches()
    _write_zip(archive, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zguard_b").Y == 2


def test_deleted_archive_reads_as_before(archive, tmp_path, monkeypatch):
    """A stat that fails reads as the unwrapped method does: the
    importer's directory empties and the cache entry goes."""
    twin = str(tmp_path / "twin.zip")
    _write_zip(twin, {"zguard_a": "X = 1\n"})
    mine, theirs = zipimport.zipimporter(archive), zipimport.zipimporter(twin)
    importlib.invalidate_caches()   # stamps the sys.path importer
    mine.invalidate_caches()
    os.remove(archive)
    os.remove(twin)
    mine.invalidate_caches()
    zipimport.zipimporter.invalidate_caches.__wrapped__(theirs)
    assert mine._files == theirs._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert twin not in zipimport._zip_directory_cache
    importlib.invalidate_caches()
    monkeypatch.delitem(sys.modules, "zguard_a")
    with pytest.raises(ImportError):
        importlib.import_module("zguard_a")


def test_install_twice_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.rereads_on_change
    session._install_zip_reread_on_change()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped.__wrapped__, "rereads_on_change")


def test_worker_reads_no_zip_directory_twice(spark):
    """In a Python worker that has imported spatial_spark, the marker is
    installed and a second invalidation reads no zip directory."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import spatial_spark  # noqa: F401

        importlib.invalidate_caches()
        reads, real = [], zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        marker = getattr(zipimport.zipimporter.invalidate_caches,
                         "rereads_on_change", False)
        return pd.Series([json.dumps([marker, len(reads), zips])] * len(ids))

    rows = spark.range(8).coalesce(1).select(probe("id").alias("r")).collect()
    marker, reads, zips = json.loads(rows[0]["r"])
    assert marker is True
    assert zips > 0
    assert reads == 0
