"""Stat-guarded zip-importer invalidation (envtune.tune_zipimport_invalidation):
a rewritten archive on sys.path is still re-read by
importlib.invalidate_caches(), an unchanged one is not, missing private
names leave CPython's method alone, and a Spark Python worker installs the
tune when it imports sparkkd."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from sparkkd import envtune  # importing sparkkd installs the tunes

TUNED = zipimport.zipimporter.invalidate_caches.__module__ == envtune.__name__
needs_tune = pytest.mark.skipif(
    not TUNED, reason="interpreter invalidates zip caches lazily; tune not installed"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding module ``ztune_a``; yields its path
    and drops every cache entry the test created afterwards."""
    archive = str(tmp_path / "ztune.zip")
    _write_zip(archive, {"ztune_a": 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("ztune_a").VALUE == 1
    yield archive
    for name in ("ztune_a", "ztune_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    envtune._ZIP_STAMPS.pop(archive, None)


def _count_reads(monkeypatch, archive):
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()  # stamps the archive
    _write_zip(zip_on_path, {"ztune_a": 1, "ztune_b": 2})  # size changes
    importlib.invalidate_caches()
    assert importlib.import_module("ztune_b").VALUE == 2


@needs_tune
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    importlib.invalidate_caches()  # stamps the archive
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    # the counter does see the re-read a rewrite forces
    _write_zip(zip_on_path, {"ztune_a": 1, "ztune_b": 2})
    importlib.invalidate_caches()
    assert calls == [zip_on_path]
    assert importlib.import_module("ztune_b").VALUE == 2


@needs_tune
def test_dropped_cache_entry_is_reread(zip_on_path, monkeypatch):
    importlib.invalidate_caches()
    zipimport._zip_directory_cache.pop(zip_on_path)
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert calls == [zip_on_path]
    assert importlib.import_module("ztune_a").VALUE == 1


def test_missing_private_names_fall_back_to_noop(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(envtune, "_ZIP_TUNED", False)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert envtune.tune_zipimport_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is method


def test_lazy_interpreter_method_is_left_alone(monkeypatch):
    def lazy(self):  # CPython 3.13's shape: only drops the cache entry
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(envtune, "_ZIP_TUNED", False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy)
    assert envtune.tune_zipimport_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is lazy


@pytest.mark.spark
def test_spark_worker_installs_tune(spark):
    """A worker that imports sparkkd runs the tuned method, and a repeat
    invalidate_caches() re-reads none of its (unchanged) zip archives."""

    def probe(batches):
        import importlib
        import zipimport

        import sparkkd  # noqa: F401

        method = zipimport.zipimporter.invalidate_caches
        original = getattr(method, "__wrapped__", method)
        eager = "_read_directory" in original.__code__.co_names
        importlib.invalidate_caches()  # stamps every archive
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"module": method.__module__, "eager": eager, "rereads": len(reads)}]
        )

    schema = "module string, eager boolean, rereads bigint"
    rows = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
    (row,) = rows
    if row.eager:
        assert row.module == envtune.__name__
        assert row.rereads == 0
    else:
        assert row.module == "zipimport"
    # this interpreter family (CPython < 3.13) invalidates eagerly
    assert row.eager == TUNED
