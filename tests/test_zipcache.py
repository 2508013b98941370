"""``zipcache``: an unchanged zip archive's directory survives
``importlib.invalidate_caches()``; a rewritten one is read again.

The first two tests need no Spark: one imports a package from a zip
in ``tmp_path``. The last counts the re-reads inside a Spark Python
worker, where pyspark itself is imported from ``pyspark.zip``.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from open_reaction_database_web_scraper_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def read_counter(monkeypatch):
    """The archives ``zipimport`` reads a directory from, in order."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """The path of a zip, first on ``sys.path``, for package ``zc_pkg``;
    the package's modules and the zip's importers are dropped after."""
    archive = str(tmp_path / "zc.zip")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("zc_pkg")]:
        del sys.modules[name]
    for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[p]


def test_unchanged_archive_is_not_reread(zip_package, read_counter):
    archive = zip_package
    pkg = {"zc_pkg/__init__.py": "", "zc_pkg/sub/__init__.py": "",
           "zc_pkg/sub/a.py": "X = 1\n"}
    _write_zip(archive, pkg)
    assert importlib.import_module("zc_pkg.sub.a").X == 1
    importers = [p for p in sys.path_importer_cache
                 if p.startswith(archive)]
    assert len(importers) == 3  # the archive, zc_pkg, zc_pkg/sub

    read_counter.clear()
    importlib.invalidate_caches()  # first call: one read per archive
    assert read_counter.count(archive) == 1
    read_counter.clear()
    importlib.invalidate_caches()  # unchanged: no read at all
    assert read_counter.count(archive) == 0

    _write_zip(archive, {**pkg, "zc_pkg/sub/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_counter.count(archive) == 1
    assert importlib.import_module("zc_pkg.sub.b").Y == 2


def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.keeps_unchanged_archives
    zipcache.install()
    importlib.reload(zipcache)
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_spark_worker_keeps_pyspark_zip_directory(spark):
    # nested, so cloudpickle ships it by value: workers cannot import
    # the test module
    def _reads_in_worker(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import open_reaction_database_web_scraper_spark  # noqa: F401

        real, n = zipimport._read_directory, [0]

        def counting(archive):
            n[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            # the first call through the wrapper reads each archive once;
            # a worker that ran a task before has already made it
            importlib.invalidate_caches()
            n[0] = 0
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.record_batch([pa.array([n[0]]), pa.array([zips])],
                              names=["reads", "zips"])

    (row,) = spark.range(1).coalesce(1) \
        .mapInArrow(_reads_in_worker, "reads long, zips long").collect()
    if row.zips == 0:
        pytest.skip("the workers import pyspark from a directory")
    assert row.reads == 0
