"""geojson_vt_cpp_spark — a PySpark-native spatial-join + vector-tiling engine.

A from-scratch reimplementation of the capabilities of mapbox/geojson-vt-cpp
(reference at /root/reference, ~1,240 LoC of header-only C++14) as an idiomatic
Spark engine: columnar ragged-array geometry, vectorized numpy kernels inside
Arrow-batched ``mapInPandas`` stages, a BFS-per-zoom tile pyramid instead of the
reference's recursive DFS (``include/mapbox/geojsonvt.hpp:178-258``), and
spatial-join operators (cell index, point-in-polygon, kNN, distance, bbox
overlap) the reference does not have but the target workload demands.

Public API mirrors the reference's three entry points
(``include/mapbox/geojsonvt.hpp:70-150``):

- :func:`geojson_vt_cpp_spark.operators.tile_one_shot.geojson_to_tile`
  — stateless single-tile slice (``geoJSONToTile``).
- :class:`geojson_vt_cpp_spark.operators.pyramid.TilePyramid`
  — index build + ``get_tile`` with lazy drill-down (``GeoJSONVT``).
- :mod:`geojson_vt_cpp_spark.operators.spatial_join` — PIP / kNN / distance /
  bbox overlap.
"""

from geojson_vt_cpp_spark.config import Options, TileOptions, from_id, to_id


def _task_start_hook() -> None:
    """Inside a PySpark Python worker, make the per-task start cheap: freeze
    the long-lived heap, and re-read a zip's directory only when the zip
    changed.

    A reused worker runs a full ``gc.collect()`` after every task
    (``pyspark/daemon.py``) and calls ``importlib.invalidate_caches()`` at
    the start of the next one (``pyspark.worker_util.setup_spark_files``).
    Left alone, each costs more CPU per task than the engine's kernels:

    - The collect traverses every tracked object, and a worker holding
      pandas, pyarrow, numpy, ``pyspark.sql`` and the engine tracks ~73k.
      At a task start the heap holds no cyclic garbage, as that collect has
      just run, so the hook ``gc.freeze()``-s it there whenever the number
      of loaded modules changed since the last freeze; later collects skip
      the frozen objects. Not at import: the package is imported before
      the kernels' pandas and pyarrow are.
    - On CPython 3.11 every ``zipimporter`` re-reads the whole central
      directory of its archive (3.12 made this lazy, gh-103200), and ~16
      importers sit over ``pyspark.zip`` and its packages. The hook
      re-reads only when the archive's ``(st_ino, st_size, st_mtime_ns)``
      differs from the last re-read; otherwise the importer takes the
      shared directory that re-read cached. A rebuilt or replaced archive
      (``addPyFile`` / ``--py-files``) is still re-read.

    Both run from the per-task ``zipimporter.invalidate_caches`` call.
    Idempotent; the driver (no active ``TaskContext``) is never patched.
    """
    import sys

    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return
    import gc
    import os
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "task_start_hook", False):
        return
    reread = cls.invalidate_caches
    read_at = {}  # archive -> its stat key taken just before its last re-read
    frozen_at = 0  # len(sys.modules) at the last freeze

    def invalidate_caches(self):
        nonlocal frozen_at
        if len(sys.modules) != frozen_at:
            gc.freeze()
            frozen_at = len(sys.modules)
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.task_start_hook = True
    cls.invalidate_caches = invalidate_caches


_task_start_hook()

__all__ = [
    "Options",
    "TileOptions",
    "to_id",
    "from_id",
    # convenience re-exports (import submodules lazily to keep `import
    # geojson_vt_cpp_spark` free of a SparkSession requirement)
]


def __getattr__(name):
    import importlib

    lazy = {
        "TilePyramid": "geojson_vt_cpp_spark.operators.pyramid",
        "geojson_to_tile_df": "geojson_vt_cpp_spark.operators.tile_one_shot",
        "point_in_polygon_join": "geojson_vt_cpp_spark.operators.spatial_join",
        "knn_join": "geojson_vt_cpp_spark.operators.spatial_join",
        "distance_join": "geojson_vt_cpp_spark.operators.spatial_join",
        "bbox_overlap_join": "geojson_vt_cpp_spark.operators.spatial_join",
        "as_of_join": "geojson_vt_cpp_spark.operators.temporal",
        "jaccard_refine": "geojson_vt_cpp_spark.operators.dedup",
        "minhash_near_dup_pairs": "geojson_vt_cpp_spark.operators.dedup",
        "connected_components": "geojson_vt_cpp_spark.operators.dedup",
        "dedup_clusters": "geojson_vt_cpp_spark.operators.dedup",
        "cross_split_leakage": "geojson_vt_cpp_spark.operators.dedup",
        "decode_png": "geojson_vt_cpp_spark.functions.png",
        "decode_wav": "geojson_vt_cpp_spark.functions.wav",
        "documents_from_fixture": "geojson_vt_cpp_spark.sources.documents",
        "checkpointed_pipeline": "geojson_vt_cpp_spark.sources.table_io",
        "TableIO": "geojson_vt_cpp_spark.sources.table_io",
    }
    if name in lazy:
        return getattr(importlib.import_module(lazy[name]), name)
    raise AttributeError(f"module 'geojson_vt_cpp_spark' has no attribute {name!r}")
