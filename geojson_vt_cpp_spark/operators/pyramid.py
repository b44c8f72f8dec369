"""The tile pyramid: BFS-per-zoom index build + lazy drill-down ``get_tile``.

Spark re-expression of ``GeoJSONVT`` (``include/mapbox/geojsonvt.hpp:94-258``).
The reference splits tiles in one recursive DFS, ``splitTile``, for both
the index build and the ``getTile`` drill-down; here it is one per-zoom
level loop (``TilePyramid._descend``), which the build, ``append`` and the
drill-down all run — the build is an append onto an empty index, and a
drill starts the loop at the zoom of its shallowest sourced ancestor:

- one narrow ``mapInPandas`` pass clips every assigned feature into its four
  buffered child quadrants (no shuffle — features never leave their
  partitions),
- one small aggregate per level (sum of per-feature ``num_points`` per tile)
  drives the stop conditions on the driver: the build's
  (``z == indexMaxZoom`` / ``num_points <= indexMaxPoints``,
  ``geojsonvt.hpp:210-215``) or the drill's (a target below the tile,
  ``geojsonvt.hpp:219-234``),
- quantization to int16 tile features is deferred and runs as one job over
  the union of all levels when output is first requested.

Every stage is sized by one rule, ``clip_stage.stage_parts`` (one
partition per ``POINTS_PER_PART`` vertices, capped at two per core), from a
vertex count the operator already aggregated: wrap's deciding aggregate
sizes z0 and the wrap windows, each level's stats aggregate sizes the next
level and its split kernel, and the registry sizes a drill's first split,
quantize and selective reads. Until the first aggregate nothing is
counted, so the input keeps its partitioning; a 13-tile index runs every
stage on one partition.

Tile metadata (num_points, row counts, source retention) lives on the
driver in one registry, the analogue of the reference's single tile map
(``geojsonvt.hpp:157``): every level of the loop registers its fresh tiles
into a compact numpy block (~33 bytes/tile, searchsorted lookups), and a
level evaluates the stop conditions of its fresh tiles in vectorized numpy
over its one aggregate, so deep indexes (index_max_zoom >= 8) and
traversal-sized drills never build per-tile Python objects or loop the
visit set on the driver; only tiles an append reaches that are already
registered take a per-tile Python path, bounded by the new features'
cover. Empty tiles ARE materialized (the reference constructs an
InternalTile for every child before checking ``features.empty()``,
``geojsonvt.hpp:189-206`` — the us-states golden contains 19 empty tiles).

``get_tile`` mirrors ``geojsonvt.hpp:117-150``: x wraparound, ancestor walk,
targeted drill-down re-running the split from the nearest retained source,
ancestor-path pruning (only ancestors of the target recurse,
``geojsonvt.hpp:228-234``), and the canonical empty tile for misses.
"""
from __future__ import annotations

import json
from dataclasses import dataclass, field
from itertools import groupby
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.functions import kernels as K
from geojson_vt_cpp_spark.operators import codec
from geojson_vt_cpp_spark.operators.clip_stage import (
    fit_parts, iter_rows, max_stage_parts, split_children,
    split_mid_points_sql, stage_parts,
)
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.wrap import wrap_with_points

# Per-call expressions of the level loop are SQL text: a Column-builder
# call costs a Py4J round trip per node, and these are rebuilt on every
# level of a build, append or drill.
# (z, tx, ty) packed into one BIGINT: z < 64, tx, ty < 2^29
_PACKED_KEY = "shiftleft(CAST(z AS BIGINT), 58) + shiftleft(tx, 29) + ty"


def _tile_eq(z: int, x: int, y: int) -> str:
    return f"z = {z} AND tx = {x} AND ty = {y}"


def _sort_exprs(*keys: str) -> list:
    """Sort keys as SQL text: ``orderBy`` builds a name through ``F.col``,
    and sorting by the six SORT_KEYS costs 89 Py4J round trips by name, 29
    as SQL text."""
    return [F.expr(k) for k in keys]


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

    Every registration adds one block — the fresh tiles of one level of
    the level loop (a build, append or drill level): packed-key-sorted
    arrays of (key, num_points, rows, has_source), ~33 bytes/tile, with
    O(log n) searchsorted lookups. Mutations (append growing a tile, a
    split retiring a source) write through the :class:`_MetaRef` view into
    the block.
    """

    def __init__(self):
        # z -> list of (packed_keys_sorted, npts, nrows, has_source);
        # multiple blocks per level
        self._levels: dict[int, list] = {}
        self._block_count = 0

    def add_level(self, z, xs, ys, npts, nrows, src) -> None:
        packed = (xs.astype(np.int64) << 29) + ys.astype(np.int64)
        for lv in self._levels.get(z, ()):
            # fresh tiles are children of tiles that had none: a sourced
            # leaf or a tile this level loop created
            dup = np.flatnonzero(np.isin(packed, lv[0]))
            if len(dup):
                i = int(dup[0])
                raise AssertionError(
                    f"tile {(z, int(xs[i]), int(ys[i]))} already registered"
                )
        order = np.argsort(packed)
        self._levels.setdefault(z, []).append(
            (
                packed[order],
                npts[order].astype(np.int64),
                nrows[order].astype(np.int64),
                src[order].astype(bool).copy(),
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

    def total_points(self) -> int:
        return sum(
            int(lv[1].sum()) for blocks in self._levels.values() for lv in blocks
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
    """One tile's quantized tile-feature rows, in SORT_KEYS order ->
    (feature list, n_simplified): the one decoder of the tile-feature
    encoding. ``rows`` are Spark Rows (``get_tile``, ``all_tiles``) or the
    dicts of a serving-snapshot read; both carry plain Python values."""
    feats = []
    nsimp = 0
    for r in rows:
        nsimp += r["n_simplified"]
        if r["out_type"] < 0:
            continue
        feats.append(
            {
                "type": r["out_type"],
                "is_multi": r["is_multi"],
                "parts": [
                    [[px, py] for px, py in zip(xs, ys)]
                    for xs, ys in zip(r["part_xs"], r["part_ys"])
                ],
                "poly_lens": r["poly_lens"],
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
        self._tile_features: DataFrame | None = None
        self._tile_cache: dict[tuple[int, int, int], Tile] = {}
        self._serving: tuple[list[int], list[tuple[int, str]]] | None = None
        # one entry per drill level: tiles split ("active"), their vertices
        # ("points") and the partitions of the split's input ("parts")
        self.drill_log: list[dict] = []
        self._drilled = False  # append() is defined on the eager index only
        self._io = None
        self._fp = ""
        if workdir is not None:
            from geojson_vt_cpp_spark.sources.table_io import TableIO

            self._io = TableIO(self.spark, workdir)
            self._fp = _json.dumps(self.o.__dict__, sort_keys=True) + (
                f"|pre_wrapped={pre_wrapped}"
            )

        # materialize-and-truncate the convert output once, in the input's
        # partitioning — nothing has counted it yet: wrap alone references
        # it 4x (one agg + three clip passes), and its deciding aggregate
        # counts the vertices that size every stage after it. The BFS adds
        # a level of plan depth per zoom — localCheckpoint keeps each
        # level's plan shallow (local mode; the workdir/TableIO path uses
        # reliable parquet checkpoints instead at cluster scale). The level
        # loop starts with the root as its one fresh tile.
        root = (np.zeros(1, dtype=np.int64), np.zeros(1, dtype=np.int64))
        if self._io is not None:
            counted: dict[str, int] = {}

            def base_stage() -> DataFrame:
                if pre_wrapped:
                    return features_df
                wrapped, counted["points"] = wrap_with_points(
                    features_df.localCheckpoint(),
                    self.o.buffer / self.o.extent,
                    self.o.line_metrics,
                )
                return wrapped

            base = self._io.run_stage("pyr_base", base_stage, fingerprint=self._fp)
            self._prev_snap = base.snapshot_id
            # a resumed base was not counted in this process
            self._descend(
                base.df, counted.get("points"), True, root, self._index_rule,
                staged=True,
            )
            return
        # lazy (eager=False) localCheckpoint: wrap's deciding aggregate (or
        # the z0 stats aggregate) is the materializing action, so the cache
        # write fuses into the consumer instead of paying a separate
        # whole-plan checkpoint job. RDD-level storage (NOT DataFrame
        # .persist(), whose CacheManager entry would outlive the pyramid in
        # a long-lived session): the ContextCleaner releases the blocks
        # when the level DataFrames are garbage collected.
        if pre_wrapped:
            # no count until the z0 stats aggregate: the input keeps its
            # partitioning, bounded by the rule's cap
            base = features_df.coalesce(max_stage_parts(self.spark))
            self._descend(
                base.localCheckpoint(eager=False), None, True, root,
                self._index_rule,
            )
            return
        features_df = features_df.localCheckpoint(eager=False)
        feats, points = wrap_with_points(
            features_df, self.o.buffer / self.o.extent, self.o.line_metrics
        )
        # wrap returning its input unchanged (no dateline features) means the
        # base is already materialized — z0 needs no second checkpoint
        self._descend(feats, points, feats is features_df, root, self._index_rule)

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

    # ------------------------------------------------------------ level loop

    def _index_rule(self, z: int, xs, ys, npts, nrows) -> tuple:
        """The build's split-and-keep masks over a level's fresh tiles
        (``geojsonvt.hpp:210-215``): a non-empty tile splits below
        ``indexMaxZoom`` over ``indexMaxPoints`` points and keeps its source
        otherwise."""
        o = self.o
        nonempty = nrows > 0
        split = nonempty & (z < o.index_max_zoom) & (npts > o.index_max_points)
        keep = nonempty & ((z == o.index_max_zoom) | (npts <= o.index_max_points))
        return split, keep

    def _descend(self, feats: DataFrame | None, points: int | None,
                 materialized: bool, fresh: tuple, rule, z: int = 0,
                 pull: dict | None = None, staged: bool = False) -> list[dict]:
        """The BFS level loop, one zoom per step: the build, an append onto
        a built index, and a drill-down (the reference's ``splitTile``,
        ``geojsonvt.hpp:217-257``, serves the build and getTile alike).

        The build and an append start at z0 with ``feats``; ``fresh`` is
        the (xs, ys) of the z0 tiles to register: the root for a build,
        none for an append. ``points`` is the vertex count of ``feats``, or
        None when nothing counted it (pre-wrapped input, a resumed base):
        z0 then stays on at most the rule's cap of partitions, and its
        stats aggregate sizes every level after it. ``materialized`` says
        ``feats`` is already checkpointed. ``staged`` checkpoints each level
        as a manifest-gated TableIO stage (the workdir build) instead of a
        lazy ``localCheckpoint``. A drill passes no ``feats`` and starts at
        zoom ``z`` with ``pull``: its sourced ancestors, z -> {(x, y)}.

        ``rule(z, xs, ys, npts, nrows) -> (split, keep)`` gives, as
        vectorized masks over a level's fresh tiles, which split and which
        keep their source: :meth:`_index_rule` for the build and append,
        the target rule of :meth:`_drill` for a drill.

        Each level runs one aggregate — per-tile num_points sum, row count
        and the vertices of the next split's mid rows (rows the native
        routing cannot clip, see split_children/kernel_parts) — as its
        first action, so the lazy level checkpoint fuses into it. Fresh
        tiles (children of this loop's splits, empties included) register
        as one numpy block. Every other tile of the aggregate must already
        be registered (new rows reaching an index): an interior tile passes
        only the new rows to its children, a leaf stays a leaf, and a leaf
        newly over ``indexMaxPoints`` splits with its old rows pulled back
        from the level it was registered in. A drill's ancestor joins the
        split set at its own zoom the same way, its rows pulled back; a
        zoom that no rows reach is skipped.

        Returns one ``{active, points, parts}`` record per split: the tiles
        whose children registered, the vertices that split and the
        partitions of the split's input.
        """
        o = self.o
        pull = pull or {}
        level = None if feats is None else feats.selectExpr(
            "0 AS z", "CAST(0 AS BIGINT) AS tx", "CAST(0 AS BIGINT) AS ty", "*"
        )
        # the level aggregate's columns, built once for every level
        tile = [F.expr("tx"), F.expr("ty")]
        stats = [
            F.expr("sum(num_points) AS npts"),
            F.expr("count(*) AS nrows"),
            F.expr(split_mid_points_sql(o.buffer, o.extent) + " AS nmid"),
        ]
        none = np.zeros(0, dtype=np.int64)
        rounds: list[dict] = []
        parts = 0  # partitions the current level is known to have at least
        while True:
            old = self._level_assigned.get(z)  # rows registered before
            descend: list[tuple[int, int]] = []  # tiles whose new rows split
            pulled: list[tuple[int, int]] = []  # registered tiles that split
            split_xs = split_ys = none  # fresh tiles that split
            if level is not None:
                if staged:
                    # manifest-gated level checkpoint: a killed build resumes
                    # here — completed levels read back, this one re-runs
                    n = (
                        max_stage_parts(self.spark) if points is None
                        else stage_parts(self.spark, points)
                    )
                    lvl_df = level  # bind before reassignment (closure)
                    res = self._io.run_stage(
                        f"pyr_level_{z:02d}",
                        lambda: lvl_df.repartition(n),
                        inputs=(self._prev_snap,),
                        fingerprint=self._fp,
                    )
                    level = res.df
                    self._prev_snap = res.snapshot_id
                elif points is None:
                    # an uncounted (pre-wrapped) z0: __init__ coalesced it to
                    # the rule's cap and checkpointed it; its stats aggregate
                    # sizes every level after it
                    n = parts = level.rdd.getNumPartitions()
                else:
                    # coalesce when the level shrinks, which is the usual
                    # case (a split output has at least its parent level's
                    # partitions, so the shrink needs no partition-count
                    # probe, see fit_parts): per-level Python work (only the
                    # rows native routing cannot clip) is too small to
                    # justify a full-payload shuffle per zoom. A round-robin
                    # repartition only where the level holds fewer
                    # partitions than its points ask for: a few-partition
                    # convert output at z0, or the children of a
                    # one-partition pre-wrapped z0. Lazy checkpoint: the
                    # level materializes inside its stats aggregate below
                    # (one fused pass, ContextCleaner-managed blocks); the
                    # staged branch above is the reliable-checkpoint
                    # cluster path.
                    n = stage_parts(self.spark, points)
                    level, grew = fit_parts(level, n, parts)
                    parts = n
                    if grew or not materialized:
                        level = level.localCheckpoint(eager=False)
                materialized = False
                self._level_assigned[z] = (
                    level if old is None else old.unionByName(level)
                )
                pdf = level.groupBy(*tile).agg(*stats).toPandas()
                sxs = pdf["tx"].to_numpy().astype(np.int64)
                sys_ = pdf["ty"].to_numpy().astype(np.int64)
                snpts = pdf["npts"].to_numpy().astype(np.int64)
                snrows = pdf["nrows"].to_numpy().astype(np.int64)
                snmid = pdf["nmid"].fillna(0).to_numpy().astype(np.int64)
                # fresh tiles, in vectorized numpy
                fxs, fys = fresh
                packed = (fxs << 29) + fys
                order = np.argsort(packed)
                fxs, fys, packed = fxs[order], fys[order], packed[order]
                is_fresh = np.isin((sxs << 29) + sys_, packed)
                idx = np.searchsorted(packed, (sxs[is_fresh] << 29) + sys_[is_fresh])
                npts = np.zeros(len(packed), dtype=np.int64)
                nrows = np.zeros(len(packed), dtype=np.int64)
                nmid = np.zeros(len(packed), dtype=np.int64)
                npts[idx] = snpts[is_fresh]
                nrows[idx] = snrows[is_fresh]
                nmid[idx] = snmid[is_fresh]
                split_mask, keep_src = rule(z, fxs, fys, npts, nrows)
                if len(packed):
                    self.meta.add_level(z, fxs, fys, npts, nrows, keep_src)
                split_xs, split_ys = fxs[split_mask], fys[split_mask]
                descend = list(zip(split_xs.tolist(), split_ys.tolist()))
                points = int(npts[split_mask].sum())  # vertices reaching z + 1
                mid_points = int(nmid[split_mask].sum())
                for i in np.flatnonzero(~is_fresh).tolist():
                    x, y = int(sxs[i]), int(sys_[i])
                    key = (z, x, y)
                    if key not in self.meta:
                        raise AssertionError(
                            f"level stats reached unregistered tile {key}"
                        )
                    m = self.meta[key]
                    was_interior = m.rows > 0 and not m.has_source
                    old_points = m.num_points
                    m.num_points += int(snpts[i])
                    m.rows += int(snrows[i])
                    if was_interior:
                        descend.append((x, y))  # children exist: new rows only
                        points += int(snpts[i])
                        mid_points += int(snmid[i])
                    elif z == o.index_max_zoom or m.num_points <= o.index_max_points:
                        m.has_source = True  # leaf stays leaf (empty becomes leaf)
                    else:
                        # leaf newly exceeds the split threshold: its old rows
                        # re-split with the new ones; their vertices bound
                        # their mid-row vertices
                        m.has_source = False
                        descend.append((x, y))
                        pulled.append((x, y))
                        points += m.num_points  # new rows and the old ones
                        mid_points += int(snmid[i]) + old_points
            else:
                points = mid_points = 0
            for x, y in sorted(pull.pop(z, ())):
                # a drill's sourced ancestor: it splits and retires its
                # source (geojsonvt.hpp:256-257); its vertices bound its
                # mid-row vertices
                m = self.meta[(z, x, y)]
                m.has_source = False
                pulled.append((x, y))
                points += m.num_points
                mid_points += m.num_points
            if not descend and not pulled:
                if not pull:
                    return rounds
                z, level = min(pull), None  # no rows reach that ancestor's zoom
                continue
            pulled_df = (
                self._filter_tiles_z(old, [(z, x, y) for x, y in pulled])
                if pulled else None
            )
            if descend:
                split_df = self._filter_tiles_z(level, [(z, x, y) for x, y in descend])
                if pulled:
                    split_df = split_df.unionByName(pulled_df)
                # a split input on one partition (n is the level's partition
                # count) feeds its kernel as it is: nothing to shrink or
                # balance
                one_part = n == 1 and not pulled
            else:
                # only pulled-back rows split (a drill's ancestor): sized
                # like a level from their registered vertices. A DataFrame
                # holding them has a partition, so a one-partition fit
                # coalesces without a probe.
                n = parts = stage_parts(self.spark, points)
                split_df = fit_parts(pulled_df, n, 1)[0]
                one_part = n == 1
            reg = np.array(pulled, dtype=np.int64).reshape(-1, 2)
            cxs = np.concatenate([split_xs, reg[:, 0]])
            cys = np.concatenate([split_ys, reg[:, 1]])
            rounds.append({"active": len(cxs), "points": points, "parts": n})
            fresh = (
                np.repeat(cxs * 2, 4) + np.tile(np.array([0, 1, 0, 1]), len(cxs)),
                np.repeat(cys * 2, 4) + np.tile(np.array([0, 0, 1, 1]), len(cys)),
            )
            level = split_children(
                split_df, o.buffer, o.extent, o.line_metrics,
                kernel_parts=(
                    None if one_part else stage_parts(self.spark, mid_points)
                ),
            )
            z += 1

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
        union corpus (pytest-gated). The build is this append onto an empty
        index: the batch runs the build's level loop (:meth:`_descend`)
        from z0 with no fresh tile, so every tile it reaches is registered.
        Interior (already-split) tiles pass only the NEW rows to their
        children; a leaf whose combined num_points now exceeds
        ``indexMaxPoints`` is newly split — its OLD rows are pulled back
        from the level checkpoint and re-clipped together with the new
        ones; children of new splits register exactly like the build's
        (all four, empties included).

        Scale shape: the build's — wrap's deciding aggregate, then per
        level one narrow clip over the new rows and one touched-tile
        aggregate, into which the level's lazy checkpoint fuses (driver
        state bounded by the NEW features' tile cover, not the corpus); the
        old-leaf pull is a pruned filter on the level checkpoint.

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
        self._invalidate_tile_features()
        self._tile_cache.clear()
        # as in the build: the batch keeps its convert partitioning until
        # wrap's aggregate counts its vertices (and materializes the lazy
        # checkpoint); that count sizes z0
        features_df = features_df.localCheckpoint(eager=False)
        feats, points = wrap_with_points(
            features_df, o.buffer / o.extent, o.line_metrics
        )
        none = np.zeros(0, dtype=np.int64)
        self._descend(
            feats, points, feats is features_df, (none, none), self._index_rule
        )

    # ------------------------------------------------------------ drill-down

    def _drill(self, targets: list[tuple[int, int, int]]) -> None:
        """Drill-down toward every unregistered target at once: the level
        loop (:meth:`_descend`) from the zoom of the shallowest sourced
        ancestor, one split job + one stats aggregate per LEVEL, not per
        miss.

        Semantics are the confluent closure of the reference's per-miss
        recursion (geojsonvt.hpp:217-257). Each target's nearest registered
        ancestor (findParent, geojsonvt.hpp:159-176) splits at its own zoom
        if it holds a source; a target under an empty or sourceless
        ancestor stays a miss. Below it, a fresh tile splits iff it is
        non-empty, under maxZoom and some target lies strictly below it,
        and keeps its source iff it is non-empty, does not split and is
        under maxZoom (none at maxZoom, geojsonvt.hpp:219-220); empty
        children never split, so targets under them stay misses. Every
        split registers all four children and retires the split tile's
        source. This is order-independent: per-miss drilling in any order
        reaches the same final registry.
        """
        o = self.o
        pull: dict[int, set] = {}  # zoom -> sourced ancestors (x, y)
        below = []  # targets under a sourced ancestor
        for t in dict.fromkeys(targets):
            if t in self.meta:
                continue
            z, x, y = t
            while True:
                if z == 0:
                    raise ValueError("Parent tile not found")
                z, x, y = z - 1, x >> 1, y >> 1
                if (z, x, y) in self.meta:
                    break
            m = self.meta[(z, x, y)]
            if m.has_source and m.rows > 0:
                pull.setdefault(z, set()).add((x, y))
                below.append(t)
        if not pull:
            return
        self._drilled = True
        self._invalidate_tile_features()
        tz, tx, ty = (np.array(c, dtype=np.int64) for c in zip(*below))

        def rule(z: int, xs, ys, npts, nrows) -> tuple:
            deeper = tz > z
            d = tz[deeper] - z
            ancestors = ((tx[deeper] >> d) << 29) + (ty[deeper] >> d)
            live = (nrows > 0) & (z < o.max_zoom)
            split = live & np.isin((xs << 29) + ys, ancestors)
            return split, live & ~split

        none = np.zeros(0, dtype=np.int64)
        self.drill_log += self._descend(
            None, 0, False, (none, none), rule, min(pull), pull
        )

    @staticmethod
    def _filter_tiles_z(df: DataFrame, keys: list[tuple[int, int, int]]) -> DataFrame:
        """Tile membership filter keyed on (z, tx, ty) — the one filter of
        the level loop's splits and pulled-back rows and of tile reads,
        whose unions mix levels, so tx/ty alone would collide.

        Small key sets compile to an InSet probe over packed keys, written
        as one SQL ``IN`` list; large ones become a broadcast left-semi
        join against an Arrow-built key table, which ships in milliseconds
        and probes the same way at any executor count. The 2048-key
        threshold dates from an ``IN`` list built with ``Column.isin``,
        which marshals every literal through Py4J (measured ~1 ms/key: a
        151k-key traversal filter cost 150 s of driver time); a SQL-text
        list of that size has not been measured against the join.
        """
        if len(keys) == 1:
            return df.where(_tile_eq(*keys[0]))
        if len(keys) > 2048:
            kpdf = pd.DataFrame(keys, columns=["z", "tx", "ty"]).astype(
                {"z": "int32", "tx": "int64", "ty": "int64"}
            )
            kdf = df.sparkSession.createDataFrame(kpdf)
            return df.join(F.broadcast(kdf), ["z", "tx", "ty"], "leftsemi")
        packed = ", ".join(str((z << 58) + (x << 29) + y) for z, x, y in keys)
        return df.where(f"{_PACKED_KEY} IN ({packed})")

    # --------------------------------------------------------------- output

    def _assigned_union(self) -> DataFrame:
        dfs = list(self._level_assigned.values())
        union = dfs[0]
        for d in dfs[1:]:
            union = union.unionByName(d)
        return union

    def tile_features(self) -> DataFrame:
        """All materialized tiles, quantized — lazy, cached.

        The union of per-level checkpoints accumulates partitions (levels +
        drill rounds); the levels are coalesced, not shuffled, so it also
        carries whatever spatial imbalance the splits produced. Quantize is
        the one full Python pass over every row; a coalesce to
        :func:`stage_parts` of the registry's total vertex count bounds its
        per-task cost without a shuffle (a round-robin repartition here
        measured at par on the benchmark corpus).
        """
        if self._tile_features is None:
            union = self._assigned_union().coalesce(
                stage_parts(self.spark, self.meta.total_points())
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
            # splitTile from the nearest sourced ancestor
            # (geojsonvt.hpp:130-139): a drill toward one target
            self._drill([key])
        if key not in self.meta:
            return EMPTY_TILE
        return self._collect_tile(key)

    def get_tiles(self, requests: list[tuple[int, int, int]]) -> DataFrame:
        """Batch tile read: one DataFrame of tile features for many (z, x, y)
        requests — the Spark-shaped ``getTile`` (SURVEY.md §2 Q1 mapping).

        Misses are drilled together in ONE run of the level loop
        (:meth:`_drill`): job/stage count is bounded by the number of
        LEVELS between the shallowest sourced ancestor and the deepest
        miss, not by the number of misses. The hit lookup is ONE
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
            self._drill(missing)  # one job chain per level, not per miss
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
            points = sum(self.meta[k].num_points for k in found)
            return quantize(sel.coalesce(stage_parts(self.spark, points)), self.o)
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

        nfiles = min(max_stage_parts(self.spark), self.meta.total_rows() // 4096 + 1)
        (
            self.tile_features()
            .selectExpr(f"{_PACKED_KEY} AS pk", "*")
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
        rows: list = []
        if i >= 0 and entries[i][0] >= p:
            # rows come back in the snapshot's (pk, SORT_KEYS) write order;
            # arrow -> Python objects directly (to_pylist): pandas object
            # columns for the nested int16 arrays cost ~5x more per row
            rows = _pq.read_table(
                entries[i][1],
                columns=[
                    "pk", "n_simplified", "out_type", "is_multi", "part_xs",
                    "part_ys", "poly_lens", "props_json", "feature_id",
                    "id_kind",
                ],
                filters=[("pk", "==", p)],
            ).to_pylist()
        feats, nsimp = _rows_to_features(rows)
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
                .where(_tile_eq(z, x, y))
                .orderBy(*_sort_exprs(*codec.SORT_KEYS))
                .collect()
            )
            feats, nsimp = _rows_to_features(rows)
            t = Tile(z, x, y, feats, m.num_points, nsimp)
        self._tile_cache[key] = t
        return t

    def all_tiles(self) -> dict[str, list]:
        """genTiles equivalent (test/test.cpp:340-361): every materialized
        tile keyed 'z{z}-{x}-{y}', in ONE Spark job."""
        rows = (self.tile_features()
                .orderBy(*_sort_exprs("z", "tx", "ty", *codec.SORT_KEYS)).collect())
        out = {f"z{z}-{x}-{y}": [] for (z, x, y) in self.meta}
        for (z, x, y), tile_rows in groupby(rows, lambda r: (r["z"], r["tx"], r["ty"])):
            out[f"z{z}-{x}-{y}"].extend(_rows_to_features(tile_rows)[0])
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
