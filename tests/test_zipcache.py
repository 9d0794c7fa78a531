"""Lazy zipimporter invalidation (``elastic_surv_spark._zipcache``).

Below 3.13 the package makes ``zipimporter.invalidate_caches`` drop the
archive's cached directory instead of re-reading it, so a Python worker's
per-task ``importlib.invalidate_caches()`` reads nothing from pyspark.zip.
The first tests run without Spark on a zip built here; the last one checks a
reused Spark worker.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from elastic_surv_spark import _zipcache

LAZY = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def read_counter(monkeypatch):
    """Counts ``zipimport._read_directory`` calls (directory reads)."""
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A package ``zc_<hex>`` imported from a zip on ``sys.path``; yields
    (archive path, package name) and unloads it afterwards."""
    pkg = f"zc_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield str(archive), pkg
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if str(k).startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.skipif(not LAZY, reason="Python >= 3.13 invalidates zip caches lazily")
def test_invalidation_reads_nothing_and_next_import_reads_once(zip_package, read_counter):
    archive, pkg = zip_package
    assert importlib.import_module(f"{pkg}.a").X == 1
    # two importers of the archive: the sys.path entry and the package dir
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2
    _write_zip(archive, {
        f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n", f"{pkg}/b.py": "Y = 2\n",
    })
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == []
    assert importlib.import_module(f"{pkg}.b").Y == 2
    assert read_counter == [archive]
    # later lookups, through either importer, use the directory just read
    assert all(f"{pkg}/b.py" in f._files for f in importers)
    assert read_counter == [archive]


@pytest.mark.skipif(not LAZY, reason="Python >= 3.13 invalidates zip caches lazily")
def test_importer_created_after_install_constructs(zip_package, read_counter):
    # 3.11/3.12's __init__ sets ``_files`` before ``archive``: the property's
    # setter must not need ``archive``
    archive, pkg = zip_package
    importer = zipimport.zipimporter(f"{archive}/{pkg}")
    assert importer.archive == archive and importer.prefix == f"{pkg}/"
    assert importer.find_spec(f"{pkg}.a") is not None
    assert read_counter == [archive]
    zipimport.zipimporter(archive)
    assert read_counter == [archive]  # the second one shares the cache


def test_install_is_idempotent_and_version_gated():
    if LAZY:
        assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
        prop = zipimport.zipimporter.__dict__["_files"]
        assert _zipcache.install() is True
        assert _zipcache.install() is True
        assert zipimport.zipimporter.__dict__["_files"] is prop
    else:
        assert _zipcache.install() is False
        assert zipimport.zipimporter.invalidate_caches is not _zipcache._invalidate_caches
        assert not isinstance(zipimport.zipimporter.__dict__.get("_files"), property)


@pytest.mark.skipif(not LAZY, reason="Python >= 3.13 invalidates zip caches lazily")
def test_reused_spark_worker_invalidates_without_reading(spark):
    import pandas as pd

    from elastic_surv_spark.operators.heavy_hitters import heavy_hitters

    sc = spark.sparkContext
    # a fresh worker pool (Spark keys it by the UDF's environment), so every
    # worker that job 2 reuses ran a library task in job 1
    pool_key = "ELASTIC_SURV_ZIPCACHE_TEST"
    sc.environment[pool_key] = uuid.uuid4().hex
    try:
        df = spark.range(0, 4000, numPartitions=4).selectExpr("id % 7 AS term")
        # job 1: a library mapInPandas; unpickling its closure imports the package
        assert heavy_hitters(df, "term", 1, 10).count() == 7

        def check(batches):
            import importlib
            import os
            import sys
            import zipimport

            warm = "elastic_surv_spark._zipcache" in sys.modules
            patched = zipimport.zipimporter.invalidate_caches.__module__
            n_zip = sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )
            reads = []
            read = zipimport._read_directory
            zipimport._read_directory = lambda a: reads.append(a) or read(a)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            for _ in batches:
                pass
            yield pd.DataFrame({
                "pid": [os.getpid()], "warm": [warm], "patched": [patched],
                "n_zip": [n_zip], "reads": [len(reads)],
                "pyspark": [sys.modules["pyspark"].__file__],
            })

        # job 2: a closure that references nothing of the library
        rows = (
            spark.range(0, 4, numPartitions=4)
            .mapInPandas(check, "pid long, warm boolean, patched string, "
                                "n_zip long, reads long, pyspark string")
            .collect()
        )
    finally:
        del sc.environment[pool_key]
    warm = [r for r in rows if r.warm]
    assert warm, rows
    for r in warm:
        assert r.patched == "elastic_surv_spark._zipcache", r
        assert r.reads == 0, r
        if ".zip" in r.pyspark:  # the stock version would have read n_zip times
            assert r.n_zip > 0, r
