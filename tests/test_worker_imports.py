"""Stat-checked zip invalidation (top_secret_spark/worker_imports.py)."""

import importlib
import sys
import zipfile
import zipimport

from top_secret_spark import worker_imports


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tss_zip_a": "VALUE = 1\n"})
    # private import state: this process's own importers stay stock
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", {
        k: v for k, v in sys.path_importer_cache.items()
        if type(v) is not zipimport.zipimporter
    })
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("tss_zip_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        assert type(importer) is zipimport.zipimporter
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # stock: re-read on every call

        worker_imports.patch_zip_importers()
        assert type(importer) is worker_imports.StatCheckedZipImporter
        assert worker_imports.StatCheckedZipImporter in sys.path_hooks
        assert zipimport.zipimporter not in sys.path_hooks
        importlib.invalidate_caches()  # last read unknown: reads once
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        # a re-shipped archive (new stamp) is re-read and its module found
        _write_zip(archive, {"tss_zip_a": "VALUE = 1\n",
                             "tss_zip_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("tss_zip_b").VALUE == 2
    finally:
        sys.modules.pop("tss_zip_a", None)
        sys.modules.pop("tss_zip_b", None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_workers_patched_driver_stock(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def importer_classes(ids):
        import sys
        import zipimport

        import top_secret_spark  # noqa: F401

        kinds = sorted({
            type(f).__name__ for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        return ids.map(lambda _: ",".join(kinds))

    df = spark.range(0, 8, 1, 4)
    for _ in range(2):
        kinds = {r[0] for r in df.select(importer_classes("id")).collect()}
        assert kinds == {"StatCheckedZipImporter"}
    driver = [f for f in sys.path_importer_cache.values()
              if isinstance(f, zipimport.zipimporter)]
    assert all(type(f) is zipimport.zipimporter for f in driver)
    assert zipimport.zipimporter in sys.path_hooks
    assert worker_imports.StatCheckedZipImporter not in sys.path_hooks
