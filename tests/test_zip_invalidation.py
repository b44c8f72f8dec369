"""The engine's per-task worker hook (geojson_vt_cpp_spark._task_start_hook).
A reused PySpark worker runs a full gc.collect() after every task and calls
importlib.invalidate_caches() at the start of the next, which on CPython
3.11 makes every zipimporter re-read its whole archive directory. Inside a
worker the engine freezes the heap at a task start after new imports, and
re-reads an archive only when its stat changed; the driver is never
patched."""

from __future__ import annotations

import gc
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
    return getattr(zipimport.zipimporter.invalidate_caches, "task_start_hook", False)


@pytest.fixture
def worker_hook(monkeypatch):
    """Install the hook as inside a worker task; undone after the test,
    the heap unfrozen."""
    from pyspark.taskcontext import TaskContext

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    gvt._task_start_hook()
    assert not _hooked(), "patched without an active TaskContext"
    with monkeypatch.context() as m:
        m.setattr(TaskContext, "get", classmethod(lambda cls: object()))
        gvt._task_start_hook()
        hook = zipimport.zipimporter.invalidate_caches
        gvt._task_start_hook()
    assert _hooked() and zipimport.zipimporter.invalidate_caches is hook
    yield
    gc.unfreeze()


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """An archive holding package ``gvt_zip_probe`` (modules ``a``, ``b``)
    at the front of sys.path; its modules, importers and cached directory
    are dropped after the test."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {
        "gvt_zip_probe/__init__.py": "",
        "gvt_zip_probe/a.py": "X = 'a'\n",
        "gvt_zip_probe/b.py": "X = 'b'\n",
    })
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("gvt_zip_probe")]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread_changed_zip_is(worker_hook, probe_zip, monkeypatch):
    archive = probe_zip
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
        "gvt_zip_probe/c.py": "X = 'c'\n",
    })
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert all("gvt_zip_probe/c.py" in f._files for f in importers)
    assert importlib.import_module("gvt_zip_probe.c").X == "c"


def test_task_start_freezes_heap_after_new_imports(worker_hook, probe_zip):
    importlib.import_module("gvt_zip_probe")  # puts zipimporters on the path
    importlib.invalidate_caches()  # a task start
    first = gc.get_freeze_count()
    assert first > 0

    # every task below leaves 1,000 new live objects: a freeze at the next
    # task start raises the count by far more than the few frozen objects
    # that other threads of this process free meanwhile

    # a task that imports a module: the next task start freezes again
    kept = [[i] for i in range(1000)]
    assert importlib.import_module("gvt_zip_probe.a").X == "a"
    importlib.invalidate_caches()
    frozen = gc.get_freeze_count()
    assert frozen > first + 900

    # a task that imports nothing: the next task start freezes nothing
    kept += [[i] for i in range(1000)]
    importlib.invalidate_caches()
    assert gc.get_freeze_count() <= frozen
    assert len(kept) == 2000


@pytest.mark.spark
def test_workers_install_hook_driver_untouched(spark):
    def probe(batches):
        import gc
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        # referencing engine code makes unpickling this kernel import the
        # package in the worker, as every engine kernel does
        assert gvt.Options().extent == 4096
        hooked = getattr(zipimport.zipimporter.invalidate_caches,
                         "task_start_hook", False)
        n = sum(len(b) for b in batches)
        yield pd.DataFrame({
            "pid": [os.getpid()], "t": [time.monotonic_ns()], "rows": [n],
            "hooked": [hooked], "frozen": [gc.get_freeze_count()],
            "modules": [len(sys.modules)]})

    driver_invalidate = zipimport.zipimporter.invalidate_caches
    driver_frozen = gc.get_freeze_count()
    tasks = []
    for _ in range(4):
        rows = (
            spark.range(0, 64, numPartitions=4)
            .mapInPandas(probe, "pid long, t long, rows long, hooked boolean, "
                                "frozen long, modules long")
            .collect()
        )
        assert sum(r.rows for r in rows) == 64
        assert len(rows) == 4 and all(r.hooked for r in rows), rows
        tasks += rows
    by_worker = {}
    for r in sorted(tasks, key=lambda r: r.t):
        by_worker.setdefault(r.pid, []).append(r)
    # a worker imports the package while unpickling its first engine
    # kernel, so its heap is frozen from its second task on; the probe
    # imports nothing after that, and the count stops rising
    assert any(len(ts) >= 3 for ts in by_worker.values()), by_worker
    for ts in by_worker.values():
        assert all(r.frozen > 0 for r in ts[1:]), ts
        assert len({r.modules for r in ts[1:]}) <= 1, ts
        assert all(r.frozen <= ts[1].frozen for r in ts[2:]), ts
    assert zipimport.zipimporter.invalidate_caches is driver_invalidate
    assert not _hooked()
    assert gc.get_freeze_count() == driver_frozen
