"""Test-only local (driver-side, pure numpy) mirror of the reference pyramid.

This is NOT the engine — it exists so kernel-semantics bugs can be isolated
from Spark-stage bugs when golden parity fails. It mirrors
``include/mapbox/geojsonvt.hpp`` (``GeoJSONVT`` ctor / ``splitTile`` /
``getTile`` / ``geoJSONToTile``) exactly, driving the same numpy kernels the
Spark stages use.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from geojson_vt_cpp_spark.config import Options, TileOptions, to_id
from geojson_vt_cpp_spark.functions import geojson_io as GJ
from geojson_vt_cpp_spark.functions import kernels as K


@dataclass
class Feat:
    geom: K.Geom
    props_json: str
    fid: str | None
    id_kind: str

    def bbox(self):
        return self.geom.bbox()


@dataclass
class LocalTile:
    z: int
    x: int
    y: int
    features: list  # list of output feature dicts
    num_points: int
    num_simplified: int
    bbox: tuple
    source: list[Feat] | None


def convert(raw_feats: list[GJ.RawFeature], tolerance: float, generate_id: bool):
    """Mirror of detail::convert (convert.hpp:101-116): one sequential uint64
    id per top-level input feature (collection members share it)."""
    out = []
    gen_id = -1
    for rf in raw_feats:
        if rf.member_seq == 0:
            gen_id += 1
        fid, kind = rf.feature_id, rf.id_kind
        if generate_id:
            fid, kind = str(gen_id), GJ.ID_U64
        out.append(Feat(GJ.convert_geom(rf.geom, tolerance), rf.props_json, fid, kind))
    return out


def clip_feats(feats, axis, k1, k2, line_metrics):
    out = []
    for f in feats:
        minx, miny, maxx, maxy = f.bbox()
        minv = minx if axis == 0 else miny
        maxv = maxx if axis == 0 else maxy
        r = K.clip_feature(f.geom, minv, maxv, axis, k1, k2, line_metrics)
        if r == "accept":
            out.append(f)
        else:
            for g in r:
                out.append(Feat(g, f.props_json, f.fid, f.id_kind))
    return out


def shift_x(g: K.Geom, offset: float) -> K.Geom:
    """Antimeridian world-copy shift (wrap.hpp:10-17)."""
    pts = g.pts.copy()
    pts[:, 0] += offset
    return K.Geom(
        g.gtype, pts, g.part_lens, g.part_meta, g.seg_start, g.seg_end, g.poly_lens
    )


def wrap(feats, buffer, line_metrics):
    left = clip_feats(feats, 0, -1 - buffer, buffer, line_metrics)
    right = clip_feats(feats, 0, 1 - buffer, 2 + buffer, line_metrics)
    if not left and not right:
        return feats
    merged = clip_feats(feats, 0, -buffer, 1 + buffer, line_metrics)
    out = [Feat(shift_x(f.geom, 1.0), f.props_json, f.fid, f.id_kind) for f in left]
    out += merged
    out += [Feat(shift_x(f.geom, -1.0), f.props_json, f.fid, f.id_kind) for f in right]
    return out


def materialize(feats, z, x, y, extent, tolerance, line_metrics) -> LocalTile:
    z2 = float(2 ** z)
    out_feats = []
    num_points = 0
    num_simplified = 0
    bbox = [2.0, 1.0, -1.0, 0.0]
    for f in feats:
        num_points += f.geom.num_points
        tf, ns = K.transform_tile(f.geom, z2, x, y, extent, tolerance, line_metrics)
        num_simplified += ns
        minx, miny, maxx, maxy = f.bbox()
        bbox[0] = min(bbox[0], minx)
        bbox[1] = min(bbox[1], miny)
        bbox[2] = max(bbox[2], maxx)
        bbox[3] = max(bbox[3], maxy)
        if tf is None:
            continue
        props = json.loads(f.props_json)
        if tf.metrics is not None:
            props.setdefault("mapbox_clip_start", tf.metrics[0])
            props.setdefault("mapbox_clip_end", tf.metrics[1])
        out_feats.append(
            {
                "type": tf.out_type,
                "is_multi": tf.is_multi,
                "parts": [[[x, y] for x, y in zip(p[0], p[1])] for p in tf.parts],
                "poly_lens": tf.poly_lens.tolist(),
                "tags": props,
                "id": f.fid,
                "id_kind": f.id_kind,
            }
        )
    return LocalTile(z, x, y, out_feats, num_points, num_simplified, tuple(bbox), None)


class LocalPyramid:
    """Mirror of GeoJSONVT (geojsonvt.hpp:94-258)."""

    def __init__(self, geojson_text: str, options: Options = Options()):
        self.o = options
        self.tiles: dict[int, LocalTile] = {}
        self.stats: dict[int, int] = {}
        self.total = 0
        raw = GJ.parse_geojson(geojson_text)
        z2 = 1 << options.max_zoom
        feats = convert(raw, (options.tolerance / options.extent) / z2, options.generate_id)
        feats = wrap(feats, options.buffer / options.extent, options.line_metrics)
        self.split_tile(feats, 0, 0, 0)

    def split_tile(self, feats, z, x, y, cz=0, cx=0, cy=0):
        o = self.o
        z2 = float(1 << z)
        tid = to_id(z, x, y)
        tile = self.tiles.get(tid)
        if tile is None:
            tolerance = 0.0 if z == o.max_zoom else o.tolerance / (z2 * o.extent)
            tile = materialize(feats, z, x, y, o.extent, tolerance, o.line_metrics)
            self.tiles[tid] = tile
            self.stats[z] = self.stats.get(z, 0) + 1
            self.total += 1

        if not feats:
            return

        if cz == 0:
            if z == o.index_max_zoom or tile.num_points <= o.index_max_points:
                tile.source = feats
                return
        else:
            if z == o.max_zoom:
                return
            if z == cz:
                tile.source = feats
                return
            m = 1 << (cz - z)
            if x != cx // m or y != cy // m:
                tile.source = feats
                return

        p = 0.5 * o.buffer / o.extent
        minx, miny, maxx, maxy = tile.bbox
        lm = o.line_metrics

        def c(fs, axis, k1, k2, lo, hi):
            if lo >= k1 and hi < k2:
                return fs
            if hi < k1 or lo >= k2:
                return []
            return clip_feats(fs, axis, k1, k2, lm)

        left = c(feats, 0, (x - p) / z2, (x + 0.5 + p) / z2, minx, maxx)
        right = c(feats, 0, (x + 0.5 - p) / z2, (x + 1 + p) / z2, minx, maxx)

        self.split_tile(c(left, 1, (y - p) / z2, (y + 0.5 + p) / z2, miny, maxy), z + 1, x * 2, y * 2, cz, cx, cy)
        self.split_tile(c(left, 1, (y + 0.5 - p) / z2, (y + 1 + p) / z2, miny, maxy), z + 1, x * 2, y * 2 + 1, cz, cx, cy)
        self.split_tile(c(right, 1, (y - p) / z2, (y + 0.5 + p) / z2, miny, maxy), z + 1, x * 2 + 1, y * 2, cz, cx, cy)
        self.split_tile(c(right, 1, (y + 0.5 - p) / z2, (y + 1 + p) / z2, miny, maxy), z + 1, x * 2 + 1, y * 2 + 1, cz, cx, cy)
        tile.source = None

    def get_tile(self, z, x, y):
        if z > self.o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        z2 = 1 << z
        x = ((x % z2) + z2) % z2
        tid = to_id(z, x, y)
        t = self.tiles.get(tid)
        if t is not None:
            return t
        parent = self._find_parent(z, x, y)
        if parent is None:
            raise ValueError("Parent tile not found")
        self.split_tile(parent.source or [], parent.z, parent.x, parent.y, z, x, y)
        t = self.tiles.get(tid)
        if t is not None:
            return t
        if self._find_parent(z, x, y) is None:
            raise ValueError("Parent tile not found")
        return LocalTile(z, x, y, [], 0, 0, (2, 1, -1, 0), None)  # empty_tile

    def _find_parent(self, z, x, y):
        while z != 0:
            z -= 1
            x //= 2
            y //= 2
            t = self.tiles.get(to_id(z, x, y))
            if t is not None:
                return t
        return None


def geojson_to_tile(
    text: str,
    z: int,
    x: int,
    y: int,
    options: TileOptions = TileOptions(),
    wrap_: bool = False,
    clip: bool = False,
) -> LocalTile:
    """Mirror of geoJSONToTile (geojsonvt.hpp:70-92)."""
    raw = GJ.parse_geojson(text)
    z2 = 1 << z
    tolerance = (options.tolerance / options.extent) / z2
    feats = convert(raw, tolerance, False)
    if wrap_:
        feats = wrap(feats, options.buffer / options.extent, options.line_metrics)
    if clip or options.line_metrics:
        p = options.buffer / options.extent
        lm = options.line_metrics

        def c(fs, axis, k1, k2):
            # minAll=-1, maxAll=2 hardcoded (geojsonvt.hpp:88-89)
            if -1 >= k1 and 2 < k2:
                return fs
            if 2 < k1 or -1 >= k2:
                return []
            return clip_feats(fs, axis, k1, k2, lm)

        feats = c(feats, 0, (x - p) / z2, (x + 1 + p) / z2)
        feats = c(feats, 1, (y - p) / z2, (y + 1 + p) / z2)
    return materialize(feats, z, x, y, options.extent, tolerance, options.line_metrics)


def gen_tiles(text: str, max_zoom=0, max_points=10000, line_metrics=False):
    """Mirror of genTiles (test/test.cpp:340-361)."""
    opts = Options(
        max_zoom=14,
        index_max_zoom=max_zoom,
        index_max_points=max_points,
        line_metrics=line_metrics,
    )
    idx = LocalPyramid(text, opts)
    out = {}
    for t in list(idx.tiles.values()):
        out[f"z{t.z}-{t.x}-{t.y}"] = idx.get_tile(t.z, t.x, t.y).features
    return out
