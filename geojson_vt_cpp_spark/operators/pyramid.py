"""The tile pyramid: BFS-per-zoom index build + lazy drill-down ``get_tile``.

Spark re-expression of ``GeoJSONVT`` (``include/mapbox/geojsonvt.hpp:94-258``).
The reference's recursive DFS ``splitTile`` becomes a per-zoom loop:

- one narrow ``mapInPandas`` pass clips every assigned feature into its four
  buffered child quadrants (no shuffle — features never leave their
  partitions),
- one small aggregate per level (sum of per-feature ``num_points`` per tile)
  drives the stop conditions (``z == indexMaxZoom`` /
  ``num_points <= indexMaxPoints``, ``geojsonvt.hpp:210-215``) on the driver,
- quantization to int16 tile features is deferred and runs as one job over
  the union of all levels when output is first requested.

Tile metadata (num_points, row counts, source retention) lives on the
driver in one registry, the analogue of the reference's single tile map
(``geojsonvt.hpp:157``): every build level, append level and drill round
registers into a compact numpy block (~33 bytes/tile, searchsorted
lookups), and a build level evaluates its stop conditions in vectorized
numpy over its one aggregate, so deep indexes (index_max_zoom >= 8) never
build per-tile Python objects or loop the visit set on the driver. Empty
tiles ARE materialized (the reference constructs an InternalTile for every
child before checking ``features.empty()``, ``geojsonvt.hpp:189-206`` — the
us-states golden contains 19 empty tiles).

``get_tile`` mirrors ``geojsonvt.hpp:117-150``: x wraparound, ancestor walk,
targeted drill-down re-running the split from the nearest retained source,
ancestor-path pruning (only ancestors of the target recurse,
``geojsonvt.hpp:228-234``), and the canonical empty tile for misses.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.functions import kernels as K
from geojson_vt_cpp_spark.operators import codec
from geojson_vt_cpp_spark.operators.clip_stage import (
    iter_rows, split_children, split_mid_count_col,
)
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.wrap import wrap_features


@dataclass
class Tile:
    """Materialized tile (reference ``Tile``, tile.hpp:10-14)."""

    z: int
    x: int
    y: int
    features: list = field(default_factory=list)
    num_points: int = 0
    num_simplified: int = 0

    def to_mvt(self, layer_name: str = "features", extent: int = 4096) -> bytes:
        """Serialize to a Mapbox Vector Tile blob (functions/mvt.py,
        spec 2.1) — what a tile server returns for this tile. Pairs with
        the warm serving path: ``enable_serving`` + ``get_tile(...).
        to_mvt()`` answers an HTTP-shaped tile request with no Spark job.
        Type-0 (EMPTY-geometry) features are internal accounting and are
        not serialized."""
        from geojson_vt_cpp_spark.functions import mvt as _mvt

        feats = [
            {
                "type": ft["type"],
                "parts": ft["parts"],
                "tags": ft["tags"],
                "id": ft["id"],
                "id_kind": ft["id_kind"],
            }
            for ft in self.features
            if ft["type"] > 0
        ]
        return _mvt.encode_tile([(layer_name, feats)], extent=extent)


EMPTY_TILE = Tile(-1, 0, 0)  # canonical empty tile (geojsonvt.hpp:64)


class _MetaRef:
    """Write-through view of one tile row in a registry block
    (num_points / rows / has_source)."""

    __slots__ = ("_lv", "_i")

    def __init__(self, lv: tuple, i: int):
        self._lv = lv
        self._i = i

    @property
    def num_points(self) -> int:
        return int(self._lv[1][self._i])

    @num_points.setter
    def num_points(self, v: int) -> None:
        self._lv[1][self._i] = v

    @property
    def rows(self) -> int:
        return int(self._lv[2][self._i])

    @rows.setter
    def rows(self, v: int) -> None:
        self._lv[2][self._i] = v

    @property
    def has_source(self) -> bool:
        return bool(self._lv[3][self._i])

    @has_source.setter
    def has_source(self, v: bool) -> None:
        self._lv[3][self._i] = v


class _MetaStore:
    """Tile registry: dict semantics over numpy blocks.

    Every registration adds one block — a build or append level, or the
    children one drill round registered at one zoom: packed-key-sorted
    arrays of (key, num_points, rows, has_source), ~33 bytes/tile, with
    O(log n) searchsorted lookups. Mutations (append growing a tile, a
    drill retiring a source) write through the :class:`_MetaRef` view into
    the block.
    """

    def __init__(self):
        # z -> list of (packed_keys_sorted, npts, nrows, has_source,
        #               container_df_or_None); multiple blocks per level:
        # one from the eager build plus one per append level / drill round
        self._levels: dict[int, list] = {}
        self._block_count = 0

    def add_level(self, z, xs, ys, npts, nrows, src, container=None) -> None:
        packed = (xs.astype(np.int64) << 29) + ys.astype(np.int64)
        order = np.argsort(packed)
        self._levels.setdefault(z, []).append(
            (
                packed[order],
                npts[order].astype(np.int64),
                nrows[order].astype(np.int64),
                src[order].astype(bool).copy(),
                container,
            )
        )
        self._block_count += len(packed)

    def _find(self, key):
        z, x, y = key
        p = (x << 29) + y
        for lv in self._levels.get(z, ()):
            i = int(np.searchsorted(lv[0], p))
            if i < len(lv[0]) and lv[0][i] == p:
                return lv, i
        return None, None

    def block_container(self, key):
        """The drill-round children df that registered this tile, or None
        for tiles of build/append levels (their rows live in the level
        checkpoint)."""
        lv, _i = self._find(key)
        return None if lv is None else lv[4]

    def __contains__(self, key) -> bool:
        return self._find(key)[0] is not None

    def __getitem__(self, key):
        lv, i = self._find(key)
        if lv is None:
            raise KeyError(key)
        return _MetaRef(lv, i)

    def __len__(self) -> int:
        return self._block_count

    def __iter__(self):
        for z, blocks in self._levels.items():
            for lv in blocks:
                for p in lv[0]:
                    yield (z, int(p) >> 29, int(p) & ((1 << 29) - 1))

    def keys(self):
        return iter(self)

    def items(self):
        for z, blocks in self._levels.items():
            for lv in blocks:
                for i, p in enumerate(lv[0]):
                    yield (z, int(p) >> 29, int(p) & ((1 << 29) - 1)), _MetaRef(lv, i)

    def per_zoom(self) -> dict[int, int]:
        return {
            z: sum(len(lv[0]) for lv in blocks)
            for z, blocks in sorted(self._levels.items())
        }

    def total_rows(self) -> int:
        return sum(
            int(lv[2].sum()) for blocks in self._levels.values() for lv in blocks
        )


def quantize(assigned_df: DataFrame, options: Options) -> DataFrame:
    """Assigned features -> quantized tile features (one narrow pass).

    Per-tile tolerance is ``z == maxZoom ? 0 : tolerance/(2^z*extent)``
    (``geojsonvt.hpp:192-193``); emit filters and multi collapse live in
    :func:`kernels.transform_tile`. lineMetrics injects the
    mapbox_clip_start/end properties for single-line features
    (``tile.hpp:87-91``).
    """
    extent = options.extent
    base_tol = options.tolerance
    max_zoom = options.max_zoom
    lm = options.line_metrics

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                z = int(row["z"])
                tol = 0.0 if z == max_zoom else base_tol / (float(1 << z) * extent)
                out = quantize_one(
                    row, codec.row_to_geom(row), z, int(row["tx"]),
                    int(row["ty"]), extent, tol, lm,
                )
                if out is not None:
                    rows.append(out)
            yield codec.rows_to_pdf(rows, codec.TILE_FEATURES_SCHEMA)

    return assigned_df.mapInPandas(kernel, codec.TILE_FEATURES_SCHEMA)


def quantize_one(
    row, g, z: int, tx: int, ty: int, extent: int, tol: float, lm: bool
) -> dict | None:
    """Quantize ONE assigned feature to its tile-feature output row (or a
    stat-only row, or None when nothing is emitted). ``row`` supplies the
    identity/props columns; ``g`` the geometry. Shared by the pyramid/one-
    shot quantize kernels and the fused one-shot kernel so the emit logic
    (metrics props, accounting) exists exactly once."""
    tf, nsimp = K.transform_tile(g, float(1 << z), tx, ty, extent, tol, lm)
    if tf is None:
        if nsimp:
            # dropped feature with counted points cannot happen
            # (see transform_tile) but keep the accounting exact
            return _stat_only_row(row, z, tx, ty, nsimp)
        return None
    props_json = row["props_json"]
    if tf.metrics is not None:
        props = json.loads(props_json)
        # emplace semantics: do not overwrite existing keys
        props.setdefault("mapbox_clip_start", tf.metrics[0])
        props.setdefault("mapbox_clip_end", tf.metrics[1])
        props_json = json.dumps(props, sort_keys=True, separators=(",", ":"))
    return {
        "z": z,
        "tx": tx,
        "ty": ty,
        "copy_tag": row["copy_tag"],
        "doc_id": row["doc_id"],
        "span_idx": row["span_idx"],
        "feature_idx": row["feature_idx"],
        "member_seq": row["member_seq"],
        "slice_path": row["slice_path"],
        "out_type": tf.out_type,
        "is_multi": tf.is_multi,
        "part_xs": [p[0] for p in tf.parts],
        "part_ys": [p[1] for p in tf.parts],
        "poly_lens": tf.poly_lens.tolist(),
        "props_json": props_json,
        "feature_id": row["feature_id"],
        "id_kind": row["id_kind"],
        "n_simplified": nsimp,
        "num_points": row["num_points"],
    }


def _rows_to_features(rows) -> tuple[list, int]:
    """Quantized tile-feature rows (Spark Row or dict, in SORT_KEYS order)
    -> (feature list, n_simplified). Shared by the Spark collect path and
    the driver-local serving-snapshot probe."""
    feats = []
    nsimp = 0
    for r in rows:
        nsimp += int(r["n_simplified"])
        if r["out_type"] < 0:
            continue
        feats.append(
            {
                "type": int(r["out_type"]),
                "is_multi": bool(r["is_multi"]),
                "parts": [
                    [[int(px), int(py)] for px, py in zip(xs, ys)]
                    for xs, ys in zip(r["part_xs"], r["part_ys"])
                ],
                "poly_lens": [int(v) for v in r["poly_lens"]],
                "tags": json.loads(r["props_json"]),
                "id": r["feature_id"],
                "id_kind": r["id_kind"],
            }
        )
    return feats, nsimp


def _stat_only_row(row: dict, z: int, tx: int, ty: int, nsimp: int) -> dict:
    return {
        "z": z, "tx": tx, "ty": ty,
        "copy_tag": row["copy_tag"], "doc_id": row["doc_id"],
        "span_idx": row["span_idx"], "feature_idx": row["feature_idx"],
        "member_seq": row["member_seq"], "slice_path": row["slice_path"],
        "out_type": -1, "is_multi": False, "part_xs": [], "part_ys": [],
        "poly_lens": [], "props_json": row["props_json"],
        "feature_id": row["feature_id"], "id_kind": row["id_kind"],
        "n_simplified": nsimp, "num_points": row["num_points"],
    }


class TilePyramid:
    """Eager index to ``index_max_zoom`` + on-demand drill-down."""

    def __init__(
        self,
        features_df: DataFrame,
        options: Options | None = None,
        pre_wrapped: bool = False,
        workdir: str | None = None,
    ):
        """``pre_wrapped=True`` skips the antimeridian wrap for callers that
        already ran wrap_features (e.g. the checkpointed pipeline's
        'wrapped' stage) — wrapping twice would duplicate dateline side
        copies and triple GT_EMPTY features.

        ``workdir`` switches the per-zoom BFS checkpoints from
        ``localCheckpoint`` (local mode, lineage truncation only) to
        manifest-gated TableIO parquet stages (``pyr_base``,
        ``pyr_level_00``, ...): a build killed MID-ZOOM resumes idempotently
        — completed levels read back from their manifests (same inputs +
        options fingerprint), the interrupted level re-runs from its
        resumed parent, and the driver-side meta/stats are recomputed
        deterministically from the level data. This is the cluster-scale
        checkpoint path the reliable-resume north rule requires.
        """
        import json as _json

        self.o = options or Options()
        self.spark = features_df.sparkSession
        self.meta: _MetaStore = _MetaStore()
        self._level_assigned: dict[int, DataFrame] = {}
        self._extra_assigned: list[DataFrame] = []
        self._tile_features: DataFrame | None = None
        self._tile_cache: dict[tuple[int, int, int], Tile] = {}
        self._serving: tuple[list[int], list[tuple[int, str]]] | None = None
        self.drill_log: list[dict] = []  # per-round batched-drill diagnostics
        self._drilled = False  # append() is defined on the eager index only
        self._append_seq = 0
        self._io = None
        self._fp = ""
        if workdir is not None:
            from geojson_vt_cpp_spark.sources.table_io import TableIO

            self._io = TableIO(self.spark, workdir)
            self._fp = _json.dumps(self.o.__dict__, sort_keys=True) + (
                f"|pre_wrapped={pre_wrapped}"
            )

        # materialize-and-truncate the convert output once: wrap alone
        # references it 4x (one agg + three clip passes), and the BFS adds a
        # level of plan depth per zoom — localCheckpoint keeps each level's
        # plan shallow (local mode; the workdir/TableIO path uses reliable
        # parquet checkpoints instead at cluster scale)
        self._n_parts = max(features_df.sparkSession.sparkContext.defaultParallelism * 2, 8)
        if self._io is not None:
            base = self._io.run_stage(
                "pyr_base",
                lambda: (
                    features_df.repartition(self._n_parts)
                    if pre_wrapped
                    else wrap_features(
                        features_df.repartition(self._n_parts).localCheckpoint(),
                        self.o.buffer / self.o.extent,
                        self.o.line_metrics,
                    )
                ),
                fingerprint=self._fp,
            )
            self._prev_snap = base.snapshot_id
            self._build(base.df)
            return
        # lazy (eager=False) localCheckpoint: wrap's deciding aggregate (or
        # the z0 stats aggregate) is the materializing action, so the cache
        # write fuses into the consumer instead of paying a separate
        # whole-plan checkpoint job. RDD-level storage (NOT DataFrame
        # .persist(), whose CacheManager entry would outlive the pyramid in
        # a long-lived session): the ContextCleaner releases the blocks
        # when the level DataFrames are garbage collected.
        features_df = features_df.repartition(self._n_parts).localCheckpoint(
            eager=False
        )
        feats = (
            features_df
            if pre_wrapped
            else wrap_features(
                features_df, self.o.buffer / self.o.extent, self.o.line_metrics,
                max_kernel_parts=self._n_parts,
            )
        )
        # wrap returning its input unchanged (no dateline features) means the
        # base is already round-robin balanced AND materialized — z0 can skip
        # its redundant full-payload reshuffle + rematerialization
        self._build(feats, base_balanced=feats is features_df)

    @classmethod
    def from_documents(cls, docs_df: DataFrame, options: Options | None = None,
                       on_error: str = "raise") -> "TilePyramid":
        """GeoJSONVT ctor equivalent (geojsonvt.hpp:98-108): convert at
        tolerance (tolerance/extent)/2^maxZoom, wrap, split from z0."""
        o = options or Options()
        tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
        feats = extract_features(docs_df, tol, generate_id=o.generate_id,
                                 on_error=on_error)
        return cls(feats, o)

    @property
    def total(self) -> int:
        return len(self.meta)

    @property
    def stats(self) -> dict[int, int]:
        """Registered tiles per zoom (the reference's ``stats``)."""
        return self.meta.per_zoom()

    # ------------------------------------------------------------------ build

    def _build(self, feats: DataFrame, base_balanced: bool = False) -> None:
        o = self.o
        assigned = feats.select(
            F.lit(0).alias("z"),
            F.lit(0).cast("long").alias("tx"),
            F.lit(0).cast("long").alias("ty"),
            "*",
        )
        visit = (np.zeros(1, dtype=np.int64), np.zeros(1, dtype=np.int64))
        z = 0
        while True:
            if self._io is not None:
                # manifest-gated level checkpoint: a killed build resumes
                # here — completed levels read back, this one re-runs
                lvl_df = assigned  # bind before reassignment (closure)
                res = self._io.run_stage(
                    f"pyr_level_{z:02d}",
                    lambda: lvl_df.repartition(self._n_parts),
                    inputs=(self._prev_snap,),
                    fingerprint=self._fp,
                )
                assigned = res.df
                self._prev_snap = res.snapshot_id
            elif z == 0 and base_balanced:
                # the z0 rows are a narrow projection of the already
                # round-robin-balanced persisted base — a second
                # full-payload shuffle + rematerialization buys nothing
                pass
            else:
                # coalesce, not a round-robin repartition: since the split
                # kernel only sees rows that genuinely need geometric
                # clipping (clip_stage native routing), per-level Python
                # work is too small to justify a full-payload shuffle per
                # zoom (tile_features() coalesces the same way in front of
                # quantize). The coalesce only
                # bounds the partition count (the native/kernel branch
                # union doubles it every level). Lazy checkpoint: the
                # level materializes inside its stats aggregate below (one
                # fused pass, ContextCleaner-managed blocks); the
                # workdir/TableIO branch above stays the
                # reliable-checkpoint cluster path.
                assigned = assigned.coalesce(self._n_parts).localCheckpoint(
                    eager=False
                )
            self._level_assigned[z] = assigned
            splits = self._level_stats(assigned, visit, z)
            if splits is None:
                break
            sxs, sys_, mid_total = splits
            split_df = self._filter_tiles(
                assigned, list(zip(sxs.tolist(), sys_.tolist()))
            )
            visit = (
                np.repeat(sxs * 2, 4) + np.tile(np.array([0, 1, 0, 1]), len(sxs)),
                np.repeat(sys_ * 2, 4) + np.tile(np.array([0, 0, 1, 1]), len(sys_)),
            )
            assigned = split_children(
                split_df, o.buffer, o.extent, o.line_metrics,
                kernel_parts=self._size_parts(mid_total),
            )
            z += 1

    def _level_stats(self, assigned: DataFrame, visit, z: int):
        """Stop conditions for one build level (``geojsonvt.hpp:210-215``).

        One aggregate over the level — per-tile num_points sum, row count
        and the next split's mid-row count (rows the native routing cannot
        clip, see split_children/kernel_parts) — then vectorized numpy:
        every visited tile (``visit`` = (xs, ys), empties included) lands
        in one registry block; a non-empty tile keeps its source at
        ``indexMaxZoom`` or at most ``indexMaxPoints`` points, and splits
        otherwise. Returns the (xs, ys) arrays of tiles to split and their
        mid-row total, or None when the level is all leaves.
        """
        o = self.o
        vxs, vys = visit
        packed = (vxs << 29) + vys
        order = np.argsort(packed)
        vxs, vys, packed = vxs[order], vys[order], packed[order]
        pdf = (
            assigned.groupBy("tx", "ty")
            .agg(
                F.sum("num_points").alias("npts"),
                F.count("*").alias("nrows"),
                split_mid_count_col(o.buffer, o.extent).alias("nmid"),
            )
            .toPandas()
        )
        npts = np.zeros(len(packed), dtype=np.int64)
        nrows = np.zeros(len(packed), dtype=np.int64)
        nmid = np.zeros(len(packed), dtype=np.int64)
        if len(pdf):
            sp = (
                pdf["tx"].to_numpy().astype(np.int64) << 29
            ) + pdf["ty"].to_numpy().astype(np.int64)
            idx = np.searchsorted(packed, sp)
            ok = (idx < len(packed)) & (packed[np.minimum(idx, len(packed) - 1)] == sp)
            if not ok.all():
                raise AssertionError("level stats contain unvisited tiles")
            npts[idx] = pdf["npts"].to_numpy().astype(np.int64)
            nrows[idx] = pdf["nrows"].to_numpy().astype(np.int64)
            nmid[idx] = pdf["nmid"].fillna(0).to_numpy().astype(np.int64)
        nonempty = nrows > 0
        keep_src = nonempty & (
            (z == o.index_max_zoom) | (npts <= o.index_max_points)
        )
        split_mask = nonempty & (z < o.index_max_zoom) & (npts > o.index_max_points)
        self.meta.add_level(z, vxs, vys, npts, nrows, keep_src)
        if not split_mask.any():
            return None
        return vxs[split_mask], vys[split_mask], int(nmid[split_mask].sum())

    # ---------------------------------------------------------------- append

    def append(
        self,
        docs_df: DataFrame | None = None,
        features_df: DataFrame | None = None,
        on_error: str = "raise",
    ) -> None:
        """Incremental append: index new documents/features, recomputing ONLY
        the tiles their extent touches — untouched subtrees keep their
        checkpointed level data (read back from localCheckpoint / TableIO
        parquet manifests, never re-clipped).

        The result is row/meta/stats-identical to a full rebuild over the
        union corpus (pytest-gated): new rows descend the existing BFS
        levels; interior (already-split) tiles pass only the NEW rows to
        their children; a leaf whose combined num_points now exceeds
        ``indexMaxPoints`` is newly split — its OLD rows are pulled back
        from the level checkpoint and re-clipped together with the new
        ones; children of new splits register exactly like the eager build
        (all four, empties included).

        Scale shape: per level, one narrow clip over the new rows + one
        touched-tile aggregate (driver state bounded by the NEW features'
        tile cover, not the corpus); the old-leaf pull is a pruned filter
        on the level checkpoint.

        Constraints: not defined after drill-downs (``get_tile`` misses) —
        a rebuild would not contain them; call append first, drill after.
        With ``generate_id``, ids are assigned per-batch (a rebuild would
        renumber globally). With ``workdir``/TableIO, appended level stages
        are session-local (localCheckpoint); resuming a killed process
        replays the eager build only — re-append after resume.
        """
        if self._drilled:
            raise RuntimeError(
                "append() after drill-downs is undefined (a rebuild would "
                "not contain drilled tiles); append first, drill after"
            )
        if (docs_df is None) == (features_df is None):
            raise ValueError("pass exactly one of docs_df / features_df")
        o = self.o
        if features_df is None:
            tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
            features_df = extract_features(
                docs_df, tol, generate_id=o.generate_id, on_error=on_error
            )
        feats = wrap_features(
            features_df.repartition(self._n_parts).localCheckpoint(),
            o.buffer / o.extent,
            o.line_metrics,
        )
        self._append_seq += 1
        self._invalidate_tile_features()
        self._tile_cache.clear()
        new_assigned = feats.select(
            F.lit(0).alias("z"),
            F.lit(0).cast("long").alias("tx"),
            F.lit(0).cast("long").alias("ty"),
            "*",
        )
        # (x, y) at level z of the children of tiles split by this append
        expect: set[tuple[int, int]] = set()
        z = 0
        while True:
            new_assigned = new_assigned.repartition(
                max(1, self._n_parts // 4)
            ).localCheckpoint()
            nstats = {
                (r["tx"], r["ty"]): (int(r["npts"]), int(r["nrows"]))
                for r in new_assigned.groupBy("tx", "ty")
                .agg(F.sum("num_points").alias("npts"), F.count("*").alias("nrows"))
                .collect()
            }
            if not nstats and not expect:
                break
            descend_new: list[tuple[int, int]] = []  # new rows descend
            pull_old: list[tuple[int, int]] = []  # old leaf rows re-split too
            new_splits: list[tuple[int, int]] = []  # children need registering
            fresh: list[tuple] = []  # (x, y, npts, rows, has_source)
            for (x, y) in sorted(set(nstats) | expect):
                npts_new, rows_new = nstats.get((x, y), (0, 0))
                if (x, y) in expect:
                    # child of a tile split during THIS append: fresh tile,
                    # new_assigned already carries ALL of its rows
                    leaf = z == o.index_max_zoom or npts_new <= o.index_max_points
                    fresh.append((x, y, npts_new, rows_new, rows_new > 0 and leaf))
                    if rows_new > 0 and not leaf:
                        descend_new.append((x, y))
                        new_splits.append((x, y))
                    continue
                key = (z, x, y)
                if key not in self.meta:
                    raise AssertionError(f"append reached unregistered tile {key}")
                m = self.meta[key]
                was_interior = m.rows > 0 and not m.has_source
                m.num_points += npts_new
                m.rows += rows_new
                if was_interior:
                    descend_new.append((x, y))  # children exist: new rows only
                elif z == o.index_max_zoom or m.num_points <= o.index_max_points:
                    m.has_source = True  # leaf stays leaf (empty becomes leaf)
                else:
                    # leaf newly exceeds the split threshold: old rows come
                    # back from the level checkpoint and re-split with new
                    m.has_source = False
                    descend_new.append((x, y))
                    pull_old.append((x, y))
                    new_splits.append((x, y))
            if fresh:
                arr = np.array(fresh, dtype=np.int64)
                self.meta.add_level(
                    z, arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4]
                )
            old_lvl = self._level_assigned.get(z)
            if pull_old:
                descend_old = self._filter_tiles(old_lvl, pull_old)
            if nstats:
                self._level_assigned[z] = (
                    new_assigned
                    if old_lvl is None
                    else old_lvl.unionByName(new_assigned)
                )
            expect = {
                (2 * x + dx, 2 * y + dy)
                for (x, y) in new_splits
                for dx in (0, 1)
                for dy in (0, 1)
            }
            if not descend_new:
                break
            descend = self._filter_tiles(new_assigned, descend_new)
            if pull_old:
                descend = descend.unionByName(descend_old)
            new_assigned = split_children(descend, o.buffer, o.extent, o.line_metrics)
            z += 1

    @staticmethod
    def _filter_tiles(df: DataFrame, tiles: list[tuple[int, int]]) -> DataFrame:
        if len(tiles) == 1:
            x, y = tiles[0]
            return df.where((F.col("tx") == x) & (F.col("ty") == y))
        if len(tiles) > 2048:
            # Py4J literal marshalling is ~1 ms/key — broadcast-semi-join an
            # Arrow-built key table instead (see _filter_tiles_z)
            kpdf = pd.DataFrame(tiles, columns=["tx", "ty"]).astype("int64")
            kdf = df.sparkSession.createDataFrame(kpdf)
            return df.join(F.broadcast(kdf), ["tx", "ty"], "leftsemi")
        # packed-int membership: Catalyst turns a literal-int isin into an
        # InSet hash probe; a struct-literal isin would instead analyze and
        # evaluate a huge OR tree per row (dominant cost at deep levels)
        packed = F.shiftleft(F.col("tx"), 32) + F.col("ty")
        return df.where(packed.isin([(x << 32) + y for x, y in tiles]))

    # ------------------------------------------------------------ drill-down

    def _source_container(self, key: tuple[int, int, int]) -> DataFrame | None:
        """The unfiltered DataFrame holding this sourced tile's rows: the
        drill round's children df that registered its block, else its
        build/append level.

        A container, not a pre-filtered view: constructing one filtered
        DataFrame per retained child would cost Py4J round trips per tile —
        O(misses) driver work, exactly what the batched drill exists to
        avoid. Filters are built lazily, grouped per container, only for
        tiles that actually drill.
        """
        c = self.meta.block_container(key)
        return self._level_assigned.get(key[0]) if c is None else c

    def _drill(self, cz: int, cx: int, cy: int) -> None:
        """splitTile(parent.source, ..., cz, cx, cy) (geojsonvt.hpp:130-139):
        single-target drill, a batch of one (:meth:`_drill_batch`)."""
        self._drill_batch([(cz, cx, cy)])

    def _drill_batch(self, targets: list[tuple[int, int, int]]) -> None:
        """Batched drill-down: every miss drilled in ONE BFS — one
        ``split_children`` job + one stats aggregate per LEVEL, not per miss.

        Semantics are the confluent closure of the reference's per-miss
        recursion (geojsonvt.hpp:217-257): at each level the frontier is
        exactly the set of sourced tiles that are strict ancestors of at
        least one unreached target; all of them split in one mixed-z job
        (split_children reads z/tx/ty per row). Per split tile: all four
        children materialize (stats registered), the split tile retires its
        source, a child retains its source iff no target lies strictly below
        it (this is order-independent — per-miss drilling in any order
        reaches the same final meta/source state), children at maxZoom
        retain nothing (geojsonvt.hpp:219-220), and empty children never
        recurse, so targets under them stay genuine misses.
        """
        o = self.o
        # group targets under their nearest materialized ancestor
        # (findParent, geojsonvt.hpp:159-176)
        frontier: dict[tuple[int, int, int], set] = {}
        containers: dict[tuple[int, int, int], DataFrame] = {}
        for t in dict.fromkeys(targets):
            if t in self.meta:
                continue
            pz, px, py = t
            anc = None
            while pz != 0:
                pz -= 1
                px //= 2
                py //= 2
                if (pz, px, py) in self.meta:
                    anc = (pz, px, py)
                    break
            if anc is None:
                raise ValueError("Parent tile not found")
            m = self.meta[anc]
            if not m.has_source or m.rows == 0:
                continue  # sourceless/empty ancestor: drill is a no-op
            frontier.setdefault(anc, set()).add(t)
            containers[anc] = self._source_container(anc)
        if frontier:
            self._drilled = True
        import time as _time

        while frontier:
            _t0 = _time.time()
            active = {
                key: below
                for key, tset in frontier.items()
                if key[0] < o.max_zoom
                for below in [{t for t in tset if t[0] > key[0]}]
                if below
            }
            if not active:
                return
            # ONE filter per distinct container df (not per tile), one
            # mixed-z split job + one stats aggregate for the whole level
            groups: dict[int, tuple[DataFrame, list]] = {}
            for key in sorted(active):
                c = containers[key]
                groups.setdefault(id(c), (c, []))[1].append(key)
            parts = [self._filter_tiles_z(c, ks) for c, ks in groups.values()]
            union = parts[0]
            for d in parts[1:]:
                union = union.unionByName(d)
            # right-size partitions from the driver-known row counts: the
            # filtered union inherits its containers' partitioning (hundreds
            # of near-empty partitions after a few rounds) and mapInPandas
            # pays a Python-runner startup PER TASK — measured 12 s/round on
            # a 43k-row traversal without this
            est_rows = 2 * sum(self.meta[k].rows for k in active)
            union = union.repartition(self._size_parts(est_rows))
            # lazy checkpoint, materialized by the stats aggregate below:
            # the drill round's cache write fuses into the stats job
            children = split_children(
                union, o.buffer, o.extent, o.line_metrics
            ).localCheckpoint(eager=False)
            self._extra_assigned.append(children)
            self._invalidate_tile_features()  # invalidate union cache
            _t1 = _time.time()
            cstats = {
                (r["z"], r["tx"], r["ty"]): (r["npts"], r["nrows"])
                for r in children.groupBy("z", "tx", "ty")
                .agg(F.sum("num_points").alias("npts"), F.count("*").alias("nrows"))
                .collect()
            }
            _t2 = _time.time()
            nxt: dict[tuple[int, int, int], set] = {}
            containers = {}
            # the round's children register as one block per zoom
            # (traversal-shaped drills create hundreds of thousands of
            # tiles), each block pointing at ``children`` as its container
            pend: dict[int, list] = {}  # z+1 -> [(x, y, npts, nrows, src)]
            for (z, x, y), tset in active.items():
                # the split tile drops its source (geojsonvt.hpp:256-257)
                self.meta[(z, x, y)].has_source = False
                for dx in (0, 1):
                    for dy in (0, 1):
                        czx, czy = 2 * x + dx, 2 * y + dy
                        key = (z + 1, czx, czy)
                        npts, nrows = cstats.get(key, (0, 0))
                        src = False
                        below = None
                        if nrows > 0 and z + 1 < o.max_zoom:
                            # no source at maxZoom (geojsonvt.hpp:219-220)
                            below = {
                                t
                                for t in tset
                                if t[0] > z + 1
                                and t[1] >> (t[0] - (z + 1)) == czx
                                and t[2] >> (t[0] - (z + 1)) == czy
                            }
                            src = not below
                        if key in self.meta:
                            # a split tile was a sourced leaf: no children
                            raise AssertionError(
                                f"drill child {key} already registered"
                            )
                        pend.setdefault(z + 1, []).append(
                            (czx, czy, int(npts or 0), int(nrows), src)
                        )
                        if below:
                            nxt[key] = below  # recurses; no source kept
                            containers[key] = children
            for z1, regs in pend.items():
                arr = np.array(regs, dtype=np.int64)
                self.meta.add_level(
                    z1, arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4],
                    container=children,
                )
            self.drill_log.append(
                {
                    "active": len(active),
                    "est_rows": est_rows,
                    "split_sec": round(_t1 - _t0, 2),
                    "stats_sec": round(_t2 - _t1, 2),
                    "register_sec": round(_time.time() - _t2, 2),
                }
            )
            frontier = nxt

    @staticmethod
    def _filter_tiles_z(df: DataFrame, keys: list[tuple[int, int, int]]) -> DataFrame:
        """Tile membership filter keyed on (z, tx, ty) — the batched-drill
        children union mixes levels, so tx/ty alone would collide.

        Small key sets compile to an InSet probe; large ones become a
        broadcast left-semi join against an Arrow-built key table —
        ``Column.isin`` marshals every literal through Py4J one element at a
        time (measured ~1 ms/key: a 151k-key traversal filter cost 150 s of
        driver time before this), while one Arrow batch ships in
        milliseconds and BroadcastHashJoin probes the same way at any
        executor count.
        """
        if len(keys) == 1:
            z, x, y = keys[0]
            return df.where(
                (F.col("z") == z) & (F.col("tx") == x) & (F.col("ty") == y)
            )
        if len(keys) > 2048:
            kpdf = pd.DataFrame(keys, columns=["z", "tx", "ty"]).astype(
                {"z": "int32", "tx": "int64", "ty": "int64"}
            )
            kdf = df.sparkSession.createDataFrame(kpdf)
            return df.join(F.broadcast(kdf), ["z", "tx", "ty"], "leftsemi")
        packed = (
            F.shiftleft(F.col("z").cast("long"), 58)
            + F.shiftleft(F.col("tx"), 29)
            + F.col("ty")
        )
        return df.where(packed.isin([(z << 58) + (x << 29) + y for z, x, y in keys]))

    # --------------------------------------------------------------- output

    def _size_parts(self, rows: int, per_part: int = 256) -> int:
        """Partition count for a Python-kernel pass over ``rows`` rows:
        enough for parallelism, never hundreds of near-empty partitions
        each paying a Python-runner startup."""
        return min(self._n_parts, max(1, rows // per_part + 1))

    def _assigned_union(self) -> DataFrame:
        dfs = list(self._level_assigned.values()) + self._extra_assigned
        union = dfs[0]
        for d in dfs[1:]:
            union = union.unionByName(d)
        return union

    def tile_features(self) -> DataFrame:
        """All materialized tiles, quantized — lazy, cached.

        The union of per-level checkpoints accumulates partitions (levels +
        drill rounds); the levels are coalesced, not shuffled, so it also
        carries whatever spatial imbalance the splits produced. Quantize is
        the one full Python pass over every row; a coalesce sized to the
        driver-known total row count bounds its per-task Python-runner
        startups without a shuffle (a round-robin repartition here measured
        at par on the benchmark corpus).
        """
        if self._tile_features is None:
            union = self._assigned_union().coalesce(
                self._size_parts(self.meta.total_rows())
            )
            self._tile_features = quantize(union, self.o).persist()
        return self._tile_features

    def get_tile(self, z: int, x: int, y: int) -> Tile:
        """getTile (geojsonvt.hpp:117-150): wraparound, probe, drill, probe."""
        if z > self.o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        z2 = 1 << z
        x = ((x % z2) + z2) % z2
        key = (z, x, y)
        if key not in self.meta:
            self._drill(z, x, y)
        if key not in self.meta:
            return EMPTY_TILE
        return self._collect_tile(key)

    def get_tiles(self, requests: list[tuple[int, int, int]]) -> DataFrame:
        """Batch tile read: one DataFrame of tile features for many (z, x, y)
        requests — the Spark-shaped ``getTile`` (SURVEY.md §2 Q1 mapping).

        Misses are grouped by their nearest sourced ancestor and drilled in
        ONE batched BFS (:meth:`_drill_batch`): job/stage count is bounded
        by the number of LEVELS between the shallowest ancestor and the
        deepest miss, not by the number of misses. The hit lookup is ONE
        filter over the z-partitioned tile features (partition pruning on z,
        min/max pruning on tx/ty when persisted via TableIO).
        """
        wanted = []
        for z, x, y in requests:
            if z > self.o.max_zoom:
                raise ValueError(f"Requested zoom higher than maxZoom: {z}")
            z2 = 1 << z
            wanted.append((z, ((x % z2) + z2) % z2, y))
        missing = [k for k in dict.fromkeys(wanted) if k not in self.meta]
        if missing:
            self._drill_batch(missing)  # one job chain per level, not per miss
        found = [k for k in dict.fromkeys(wanted) if k in self.meta]
        if not found:
            return self.tile_features().limit(0)
        # selective requests quantize ONLY the requested tiles: the filter
        # keys on (z, tx, ty), which the per-row quantize kernel never
        # changes, so pushing it below quantize is semantics-preserving and
        # skips the Python kernel for every unrequested tile. Traversal-ish
        # requests (or an already-persisted cache) use the shared full
        # quantize instead.
        if self._tile_features is None and 2 * len(found) < len(self.meta):
            sel = self._filter_tiles_z(self._assigned_union(), found)
            rows = sum(self.meta[k].rows for k in found)
            return quantize(sel.repartition(self._size_parts(rows)), self.o)
        tf = self.tile_features()
        return self._filter_tiles_z(tf, found)

    # -------------------------------------------------------------- serving

    def enable_serving(self, path: str) -> None:
        """Export the quantized tile features as a tile-key-sorted parquet
        snapshot and answer subsequent warm ``get_tile`` hits from it
        WITHOUT submitting a Spark job.

        The reference serves a warm ``getTile`` in microseconds from a
        driver-side hash map (geojsonvt.hpp:117-128). A Spark engine cannot
        hold tile payloads on the driver, but it can export them ONCE — a
        single range-partitioned write sorted by the packed tile key — and
        then answer warm hits with a driver-local pyarrow probe: a bisect
        over the per-file key ranges (read from the parquet footers at
        export time) locates the one file, and parquet row-group min/max
        statistics prune the read to the row group holding the key. No job
        submission, no executor round trip. At cluster scale this is the
        standard tile-server pattern: the snapshot lives on shared storage
        and ANY serving process (not just this driver) can probe it the
        same way.

        The snapshot reflects the pyramid AS OF this call: ``append`` and
        drill-down misses invalidate it (tiles created afterwards would
        otherwise probe as empty) — re-call after mutating. ``get_tiles``
        batch reads and cold drills are unaffected.
        """
        import os as _os

        import pyarrow.parquet as _pq

        pk = (
            F.shiftleft(F.col("z").cast("long"), 58)
            + F.shiftleft(F.col("tx"), 29)
            + F.col("ty")
        ).alias("pk")
        nfiles = max(1, min(self._n_parts, self.meta.total_rows() // 4096 + 1))
        (
            self.tile_features()
            .select(pk, "*")
            .repartitionByRange(nfiles, "pk")
            .sortWithinPartitions("pk", *codec.SORT_KEYS)
            .write.mode("overwrite")
            .parquet(path)
        )
        mins: list[int] = []
        entries: list[tuple[int, str]] = []
        for fn in sorted(_os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            fp = _os.path.join(path, fn)
            md = _pq.read_metadata(fp)
            if md.num_rows == 0:
                continue
            rg0 = md.row_group(0)
            pk_i = next(
                i
                for i in range(rg0.num_columns)
                if rg0.column(i).path_in_schema == "pk"
            )
            stats = [
                md.row_group(g).column(pk_i).statistics
                for g in range(md.num_row_groups)
            ]
            if any(s is None or not s.has_min_max for s in stats):
                # no stats (writer config): read the key column once to get
                # the REAL range. A sentinel full range would be wrong, not
                # just unpruned — the probe bisects to exactly ONE file, so
                # an overlapping range makes keys stored here resolve to a
                # different file and probe empty.
                import pyarrow.compute as _pc

                col = _pq.read_table(fp, columns=["pk"]).column("pk")
                fmin = _pc.min(col).as_py()
                fmax = _pc.max(col).as_py()
            else:
                fmin = min(s.min for s in stats)
                fmax = max(s.max for s in stats)
            mins.append(fmin)
            entries.append((fmax, fp))
        order = sorted(range(len(mins)), key=lambda i: mins[i])
        self._serving = ([mins[i] for i in order], [entries[i] for i in order])

    def _serving_probe(self, key: tuple[int, int, int]) -> Tile | None:
        """Driver-local snapshot probe (no Spark job); None when no valid
        snapshot exists. Zero matching rows on a VALID snapshot is a
        legitimately feature-less tile (empty tile / all features dropped
        at emit) — the snapshot covers every registered tile because any
        mutation since export would have invalidated it."""
        if self._serving is None:
            return None
        from bisect import bisect_right

        import pyarrow.parquet as _pq

        z, x, y = key
        p = (z << 58) + (x << 29) + y
        mins, entries = self._serving
        i = bisect_right(mins, p) - 1
        feats: list = []
        nsimp = 0
        if i >= 0 and entries[i][0] >= p:
            # rows come back in the snapshot's (pk, SORT_KEYS) write order;
            # arrow -> Python lists directly (to_pylist): pandas object
            # columns for the nested int16 arrays cost ~5x more per row
            tbl = _pq.read_table(
                entries[i][1],
                columns=[
                    "pk", "n_simplified", "out_type", "is_multi", "part_xs",
                    "part_ys", "poly_lens", "props_json", "feature_id",
                    "id_kind",
                ],
                filters=[("pk", "==", p)],
            )
            cols = [tbl.column(c).to_pylist() for c in tbl.column_names[1:]]
            for (n_s, o_t, i_m, pxs, pys, plens, props, fid, idk) in zip(*cols):
                nsimp += n_s
                if o_t < 0:
                    continue
                feats.append(
                    {
                        "type": o_t,
                        "is_multi": i_m,
                        "parts": [
                            [[px, py] for px, py in zip(xs, ys)]
                            for xs, ys in zip(pxs, pys)
                        ],
                        "poly_lens": plens,
                        "tags": json.loads(props),
                        "id": fid,
                        "id_kind": idk,
                    }
                )
        return Tile(z, x, y, feats, self.meta[key].num_points, nsimp)

    def _collect_tile(self, key: tuple[int, int, int]) -> Tile:
        if key in self._tile_cache:
            return self._tile_cache[key]
        t = self._serving_probe(key)  # warm snapshot hit: no Spark job
        if t is None:
            z, x, y = key
            m = self.meta[key]
            rows = (
                self.tile_features()
                .where((F.col("z") == z) & (F.col("tx") == x) & (F.col("ty") == y))
                .orderBy(*codec.SORT_KEYS)
                .collect()
            )
            feats, nsimp = _rows_to_features(rows)
            t = Tile(z, x, y, feats, m.num_points, nsimp)
        self._tile_cache[key] = t
        return t

    def all_tiles(self) -> dict[str, list]:
        """genTiles equivalent (test/test.cpp:340-361): every materialized
        tile keyed 'z{z}-{x}-{y}', in ONE Spark job."""
        rows = self.tile_features().orderBy("z", "tx", "ty", *codec.SORT_KEYS).collect()
        out = {f"z{z}-{x}-{y}": [] for (z, x, y) in self.meta}
        for r in rows:
            if r["out_type"] < 0:
                continue
            out[f"z{r['z']}-{r['tx']}-{r['ty']}"].append(
                {
                    "type": r["out_type"],
                    "is_multi": r["is_multi"],
                    "parts": [
                        [[int(px), int(py)] for px, py in zip(xs, ys)]
                        for xs, ys in zip(r["part_xs"], r["part_ys"])
                    ],
                    "poly_lens": list(r["poly_lens"]),
                    "tags": json.loads(r["props_json"]),
                    "id": r["feature_id"],
                    "id_kind": r["id_kind"],
                }
            )
        return out

    def _invalidate_tile_features(self) -> None:
        # release the persist()-ed blocks BEFORE dropping the reference —
        # repeated append/get_tiles-miss cycles in a long-lived session
        # would otherwise leak cached blocks until the executor evicts them
        if self._tile_features is not None:
            self._tile_features.unpersist()
        self._tile_features = None
        # tiles created after export would probe as empty — drop the snapshot
        self._serving = None

    def close(self) -> None:
        if self._tile_features is not None:
            self._tile_features.unpersist()
