"""Stateless single-tile slice — ``geoJSONToTile`` (geojsonvt.hpp:70-92).

The minimum end-to-end pipeline: documents -> extract/convert at the
z-scaled tolerance -> optional antimeridian wrap -> optional x/y clip to the
buffered tile window -> quantize. No pyramid, no driver state; used by the
flagship ``entry()`` smoke query.

It runs as ONE fused ``mapInPandas`` kernel per span row — parse ->
convert -> wrap windows -> x-clip -> y-clip -> quantize — instead of
chained Python stages: the per-stage Arrow round trips and Python-runner
startups dominated this stateless shape's wall time (guide §4: one
boundary crossing per stage; fewer stages, fewer crossings). The kernel
calls the same per-feature helpers as the pyramid's stages
(``GJ.parse_geojson``/``convert_geom``, ``K.clip_feature`` with
``clip_stage._emit_clipped``'s ``slice_path`` fan-out,
``pyramid.quantize_one``). Wrap is the one corpus-wide rule: whether any
feature reaches a side window is decided on the driver by
``wrap.decide`` over the extracted features, and the kernel gets the
answer as a literal.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.config import TileOptions
from geojson_vt_cpp_spark.operators import codec
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.pyramid import quantize_one
from geojson_vt_cpp_spark.operators.wrap import decide, windows


def geojson_to_tile_df(
    docs_df: DataFrame,
    z: int,
    x: int,
    y: int,
    options: TileOptions | None = None,
    wrap: bool = False,
    clip: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """documents -> quantized features of tile (z, x, y), as a DataFrame.

    Mirrors geoJSONToTile: convert tolerance ``(tolerance/extent)/2^z``,
    clip window ``[(x-p)/z2, (x+1+p)/z2] x [(y-p)/z2, (y+1+p)/z2]`` with
    p = buffer/extent; clip is forced on when lineMetrics. The reference
    passes (minAll,maxAll)=(-1,2) so clips always run per-feature. With
    ``wrap``, one driver-side aggregate over the extracted features decides
    whether every feature goes through wrap's three windows.
    """
    from geojson_vt_cpp_spark.functions import geojson_io as GJ
    from geojson_vt_cpp_spark.functions import kernels as K

    o = options or TileOptions()
    z2 = 1 << z
    tolerance = (o.tolerance / o.extent) / z2
    # quantize tolerance: the z-scaled tolerance at every z, never the
    # maxZoom-zero rule (geojsonvt.hpp:80,91)
    q_tol = o.tolerance / (float(z2) * o.extent)
    p = o.buffer / o.extent
    xk1, xk2 = (x - p) / z2, (x + 1 + p) / z2
    yk1, yk2 = (y - p) / z2, (y + 1 + p) / z2
    lm = o.line_metrics
    do_clip = clip or lm
    extent = o.extent
    wrap_active = wrap and decide(
        extract_features(docs_df, tolerance, on_error=on_error), p
    )[0]
    wins = windows(p)

    spans = docs_df.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    )
    gj = spans.where(F.col("span.kind") == "geojson").select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.text").alias("gj_text"),
    )

    def clip_geoms(g, axis, k1, k2):
        """clip_feature + the _emit_clipped slice_path fan-out, on Geom
        objects: returns [(geom, slice_suffix)] mirroring clip_stage."""
        minx, miny, maxx, maxy = g.bbox()
        minv = minx if axis == 0 else miny
        maxv = maxx if axis == 0 else maxy
        res = K.clip_feature(g, minv, maxv, axis, k1, k2, lm)
        if res == "accept":
            return [(g, "")]
        if len(res) > 1:
            return [(gg, f"|{j:04d}") for j, gg in enumerate(res)]
        return [(gg, "") for gg in res]

    def shift(g, offset):
        """shiftCoords (wrap.hpp:10-17) on a copy of ``g``."""
        pts = g.pts.copy()
        pts[:, 0] = g.pts[:, 0] + offset
        return replace(g, pts=pts)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, span_idx, gj_text in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["gj_text"]
            ):
                try:
                    raws = GJ.parse_geojson(gj_text)
                except ValueError:
                    if on_error == "skip":
                        continue
                    raise
                for rf in raws:
                    g0 = GJ.convert_geom(rf.geom, tolerance)
                    copies = [(g0, "", 1)]
                    if wrap_active:
                        copies = [
                            (shift(gw, off) if off else gw, sw, tag)
                            for k1, k2, off, tag in wins
                            for gw, sw in clip_geoms(g0, 0, k1, k2)
                        ]
                    if do_clip:
                        copies = [
                            (gy, sw + sx + sy, tag)
                            for gw, sw, tag in copies
                            for gx, sx in clip_geoms(gw, 0, xk1, xk2)
                            for gy, sy in clip_geoms(gx, 1, yk1, yk2)
                        ]
                    for g, slice_path, tag in copies:
                        meta = {
                            "doc_id": doc_id,
                            "span_idx": int(span_idx),
                            "feature_idx": rf.feature_idx,
                            "member_seq": rf.member_seq,
                            "copy_tag": tag,
                            "slice_path": slice_path,
                            "feature_id": rf.feature_id,
                            "id_kind": rf.id_kind,
                            "props_json": rf.props_json,
                            "num_points": g.num_points,
                        }
                        out = quantize_one(meta, g, z, x, y, extent, q_tol, lm)
                        if out is not None:
                            rows.append(out)
            yield codec.rows_to_pdf(rows, codec.TILE_FEATURES_SCHEMA)

    return gj.mapInPandas(kernel, codec.TILE_FEATURES_SCHEMA)
