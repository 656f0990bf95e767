"""The worker daemon (`demo_flink_spark.worker_daemon`): workers fork
without Spark's jar on `sys.path`, and an unchanged zip archive is not
re-read on `importlib.invalidate_caches()`, while a rewritten one is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from demo_flink_spark import worker_daemon


def test_workers_fork_without_jars_on_sys_path(spark):
    def worker_path(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"entry": sys.path})

    entries = {
        r.entry
        for r in spark.range(4).repartition(4).mapInPandas(worker_path, "entry string").collect()
    }
    assert any(e.endswith(".zip") for e in entries)
    assert not [e for e in entries if e.endswith(".jar")]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, request):
    request.addfinalizer(lambda: [sys.modules.pop(m, None) for m in ("m1", "m2")])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "VALUE = 1\n")
    sys.path.insert(0, str(archive))
    assert importlib.import_module("m1").VALUE == 1

    worker_daemon.install()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "VALUE = 1\n")
        zf.writestr("m2.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("m2").VALUE == 2
    assert reads == [str(archive)]
