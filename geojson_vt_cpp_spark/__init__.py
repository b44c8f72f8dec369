"""geojson_vt_cpp_spark — a PySpark-native spatial-join + vector-tiling engine.

A from-scratch reimplementation of the capabilities of mapbox/geojson-vt-cpp
(reference at /root/reference, ~1,240 LoC of header-only C++14) as an idiomatic
Spark engine: columnar ragged-array geometry, vectorized numpy kernels inside
Arrow-batched ``mapInPandas`` stages, a BFS-per-zoom tile pyramid instead of the
reference's recursive DFS (``include/mapbox/geojsonvt.hpp:178-258``), and
spatial-join operators (cell index, point-in-polygon, kNN, raster overlay) the
reference does not have but the target workload demands.

Public API mirrors the reference's three entry points
(``include/mapbox/geojsonvt.hpp:70-150``):

- :func:`geojson_vt_cpp_spark.operators.tile_one_shot.geojson_to_tile`
  — stateless single-tile slice (``geoJSONToTile``).
- :class:`geojson_vt_cpp_spark.operators.pyramid.TilePyramid`
  — index build + ``get_tile`` with lazy drill-down (``GeoJSONVT``).
- :mod:`geojson_vt_cpp_spark.operators.spatial_join` — PIP / kNN / overlay.
"""

from geojson_vt_cpp_spark.config import Options, TileOptions, from_id, to_id


def _stat_keyed_zip_invalidation() -> None:
    """Inside a PySpark Python worker, re-read a zip's directory only when the
    zip changed.

    The worker calls ``importlib.invalidate_caches()`` at the start of every
    task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 every
    ``zipimporter`` then re-reads the whole central directory of its archive
    (3.12 made this lazy, gh-103200); the ~16 importers over ``pyspark.zip``
    and its packages cost more CPU per task than the engine's kernels. The
    wrapper re-reads only when the archive's ``(st_ino, st_size,
    st_mtime_ns)`` differs from the last re-read; otherwise the importer takes
    the shared directory that re-read cached. A rebuilt or replaced archive
    (``addPyFile`` / ``--py-files``) is still re-read. Idempotent; the driver
    (no active ``TaskContext``) is never patched.
    """
    import sys

    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return
    import os
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_keyed", False):
        return
    reread = cls.invalidate_caches
    read_at = {}  # archive -> its stat key taken just before its last re-read

    def invalidate_caches(self):
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

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches


_stat_keyed_zip_invalidation()

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
        "raster_vector_overlay": "geojson_vt_cpp_spark.operators.spatial_join",
        "as_of_join": "geojson_vt_cpp_spark.operators.temporal",
        "jaccard_refine": "geojson_vt_cpp_spark.operators.dedup",
        "minhash_near_dup_pairs": "geojson_vt_cpp_spark.operators.dedup",
        "connected_components": "geojson_vt_cpp_spark.operators.dedup",
        "dedup_clusters": "geojson_vt_cpp_spark.operators.dedup",
        "cross_split_leakage": "geojson_vt_cpp_spark.operators.dedup",
        "text_chunks": "geojson_vt_cpp_spark.operators.dedup",
        "changed_tiles": "geojson_vt_cpp_spark.operators.tile_diff",
        "tile_digests": "geojson_vt_cpp_spark.operators.tile_diff",
        "decode_png": "geojson_vt_cpp_spark.functions.png",
        "decode_wav": "geojson_vt_cpp_spark.functions.wav",
        "documents_from_fixture": "geojson_vt_cpp_spark.sources.documents",
        "checkpointed_pipeline": "geojson_vt_cpp_spark.sources.table_io",
        "TableIO": "geojson_vt_cpp_spark.sources.table_io",
    }
    if name in lazy:
        return getattr(importlib.import_module(lazy[name]), name)
    raise AttributeError(f"module 'geojson_vt_cpp_spark' has no attribute {name!r}")
