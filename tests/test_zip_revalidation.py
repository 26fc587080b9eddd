"""Importing sparkfp makes ``importlib.invalidate_caches()`` cheap for zip
imports on CPython < 3.13 (see the ``sparkfp`` package docstring): a
``zipimporter`` re-reads its archive's directory only when the archive
changed, and a rewritten archive is still seen."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import sparkfp


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding module ``zrv_first``, on ``sys.path`` and imported
    from, so a ``zipimporter`` for it sits in the importer cache."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zrv_first.py", "X = 1\n")
    sys.path.insert(0, path)
    try:
        assert importlib.import_module("zrv_first").X == 1
        importlib.invalidate_caches()
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        for name in ("zrv_first", "zrv_second"):
            sys.modules.pop(name, None)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 revalidates lazily itself"
)
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_seen(zip_on_path):
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("zrv_first.py", "X = 1\n")
        z.writestr("zrv_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zrv_second").Y == 2


def test_python_worker_revalidates_pyspark_zip_only_on_change(spark):
    """On a Python worker that has loaded a sparkfp UDF, the zip
    importers (pyspark.zip on the worker's path) go through the shim,
    and a task-start ``invalidate_caches()`` reads no zip directory."""

    def probe(batches):
        # the closure refers to the sparkfp package, so unpickling it
        # imports sparkfp on the worker, as every sparkfp UDF does
        assert sparkfp.__version__
        # the first call reads and stamps every importer made before the
        # shim was in place (on a fresh worker, all of them); a later
        # task start then finds the archives unchanged
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "shim": [zipimport.zipimporter.invalidate_caches.__name__],
                "zip_importers": [n_zip],
                "reads": [len(reads)],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "shim string, zip_importers long, reads long")
        .collect()[0]
    )
    if sys.version_info < (3, 13):
        assert row.shim == "_revalidate_if_changed"
        assert row.zip_importers >= 1
        assert row.reads == 0
    else:
        assert row.shim == "invalidate_caches"
