"""Stat-keyed zipimport invalidation (geojson_vt_cpp_spark.
_stat_keyed_zip_invalidation): PySpark workers call
importlib.invalidate_caches() on every task, which on CPython 3.11 makes every
zipimporter re-read its whole archive directory. Inside a worker the engine
re-reads an archive only when its stat changed; the driver is never patched."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import geojson_vt_cpp_spark as gvt


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


def _hooked() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)


@pytest.fixture
def worker_hook(monkeypatch):
    """Install the hook as inside a worker task; undone after the test."""
    from pyspark.taskcontext import TaskContext

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    gvt._stat_keyed_zip_invalidation()
    assert not _hooked(), "patched without an active TaskContext"
    with monkeypatch.context() as m:
        m.setattr(TaskContext, "get", classmethod(lambda cls: object()))
        gvt._stat_keyed_zip_invalidation()
        hook = zipimport.zipimporter.invalidate_caches
        gvt._stat_keyed_zip_invalidation()
    assert _hooked() and zipimport.zipimporter.invalidate_caches is hook


def test_unchanged_zip_is_not_reread_changed_zip_is(worker_hook, tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {
        "gvt_zip_probe/__init__.py": "",
        "gvt_zip_probe/a.py": "X = 'a'\n",
    })
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("gvt_zip_probe.a").X == "a"
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2  # the archive root and the package dir

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory",
            lambda path: reads.append(path) or read_directory(path),
        )
        # first sight records the archive: one read shared by both importers
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {
            "gvt_zip_probe/__init__.py": "",
            "gvt_zip_probe/a.py": "X = 'a'\n",
            "gvt_zip_probe/b.py": "X = 'b'\n",
        })
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert all("gvt_zip_probe/b.py" in f._files for f in importers)
        assert importlib.import_module("gvt_zip_probe.b").X == "b"
    finally:
        for name in [m for m in sys.modules if m.startswith("gvt_zip_probe")]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.spark
def test_workers_install_hook_driver_untouched(spark):
    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        # referencing engine code makes unpickling this kernel import the
        # package in the worker, as every engine kernel does
        assert gvt.Options().extent == 4096
        hooked = getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)
        n = sum(len(b) for b in batches)
        yield pd.DataFrame({"pid": [os.getpid()], "rows": [n], "hooked": [hooked]})

    driver_invalidate = zipimport.zipimporter.invalidate_caches
    for _ in range(2):
        rows = (
            spark.range(0, 64, numPartitions=4)
            .mapInPandas(probe, "pid long, rows long, hooked boolean")
            .collect()
        )
        assert sum(r.rows for r in rows) == 64
        assert len(rows) == 4 and all(r.hooked for r in rows), rows
    assert zipimport.zipimporter.invalidate_caches is driver_invalidate
    assert not _hooked()
