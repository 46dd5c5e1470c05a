"""``hepcrawl_spark._zipcache``: ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed on disk.

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start; before Python 3.13 each ``zipimporter`` then re-read its whole
archive. These tests pin both halves of the contract: an unchanged archive
is not re-read (in this process and in a Spark worker), and a rewritten
one is (the ``addPyFile`` / ``--py-files`` semantics).
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import hepcrawl_spark  # noqa: F401  (installs _zipcache)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with package ``zc_pkg`` at the front of ``sys.path``; -> path.
    Every trace of it (modules, importers, directory cache) goes on exit."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m == "zc_pkg" or m.startswith("zc_pkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory`` from now on."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    import zc_pkg.a

    assert zc_pkg.a.X == 1
    importers = [
        f for k, f in sys.path_importer_cache.items()
        if k.startswith(zip_on_path) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) == 2  # the archive root and zc_pkg/
    del directory_reads[:]  # the import's own read
    importlib.invalidate_caches()
    # at most one read records the archive's stamp, shared by both importers
    assert directory_reads.count(zip_on_path) <= 1
    del directory_reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 0


def test_rewritten_archive_is_reread(zip_on_path, directory_reads):
    import zc_pkg.a  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(
        zip_on_path,
        {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n", "zc_pkg/b.py": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    import zc_pkg.b

    assert zc_pkg.b.Y == 2
    assert directory_reads.count(zip_on_path) >= 1


def test_removed_archive_drops_its_directory(zip_on_path):
    import zc_pkg.a  # noqa: F401

    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path not in zipimport._zip_directory_cache


def test_spark_worker_does_not_reread_unchanged_archives(spark):
    """In a real Python worker (``pyspark.zip`` and the py4j zip on its
    path), the per-task ``importlib.invalidate_caches()`` reads no zip
    directory once ``hepcrawl_spark`` is imported."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import hepcrawl_spark  # noqa: F401

        n_importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        # the worker's own task-start call, as PySpark makes it; the first
        # one after the import may read each archive once to stamp it
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pd.Series([f"{n_importers}:{len(reads)}"] * len(x))

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).select(probe("id").alias("r")).collect()
    reports = [tuple(map(int, r["r"].split(":"))) for r in rows]
    assert len(reports) == n
    assert all(n_importers > 0 for n_importers, _ in reports), reports
    assert all(reads == 0 for _, reads in reports), reports
