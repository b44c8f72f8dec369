"""Row <-> Geom codec and the engine's Spark schemas.

The features table is the Spark representation of the reference's
``vt_features`` (``include/mapbox/geojsonvt/types.hpp:160-191``): one row per
feature, geometry as flat ragged arrays (Arrow-friendly; converts losslessly
to numpy inside ``mapInPandas`` kernels), plus the per-feature cached
``bbox`` / ``num_points`` the reference computes once at construction
(``types.hpp:180-188``).

Feature output order is carried explicitly in SORT_KEYS — the reference
preserves input order through every operator, and golden parity is
order-sensitive. ``copy_tag`` encodes the antimeridian wrap order
(left=0, center=1, right=2; ``wrap.hpp:31-40``); ``slice_path`` grows one
zero-padded component per lineMetrics fan-out so multiply-clipped slices sort
in emission order (``clip.hpp:303-311``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from geojson_vt_cpp_spark.functions import kernels as K

SORT_KEYS = ["copy_tag", "doc_id", "span_idx", "feature_idx", "member_seq", "slice_path"]

FEATURE_FIELDS = [
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("feature_idx", T.IntegerType()),
    T.StructField("member_seq", T.IntegerType()),
    T.StructField("copy_tag", T.IntegerType()),
    T.StructField("slice_path", T.StringType()),
    T.StructField("feature_id", T.StringType()),
    T.StructField("id_kind", T.StringType()),
    T.StructField("props_json", T.StringType()),
    T.StructField("gtype", T.IntegerType()),
    T.StructField("xs", T.ArrayType(T.DoubleType())),
    T.StructField("ys", T.ArrayType(T.DoubleType())),
    T.StructField("zs", T.ArrayType(T.DoubleType())),
    T.StructField("part_lens", T.ArrayType(T.IntegerType())),
    T.StructField("poly_lens", T.ArrayType(T.IntegerType())),
    T.StructField("part_meta", T.ArrayType(T.DoubleType())),
    T.StructField("seg_start", T.ArrayType(T.DoubleType())),
    T.StructField("seg_end", T.ArrayType(T.DoubleType())),
    T.StructField("minx", T.DoubleType()),
    T.StructField("miny", T.DoubleType()),
    T.StructField("maxx", T.DoubleType()),
    T.StructField("maxy", T.DoubleType()),
    T.StructField("num_points", T.IntegerType()),
]

FEATURES_SCHEMA = T.StructType(FEATURE_FIELDS)

# quantized tile output (reference Tile / tile-JSON shape, int16 coords)
TILE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("copy_tag", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("feature_idx", T.IntegerType()),
        T.StructField("member_seq", T.IntegerType()),
        T.StructField("slice_path", T.StringType()),
        T.StructField("out_type", T.IntegerType()),
        T.StructField("is_multi", T.BooleanType()),
        T.StructField("part_xs", T.ArrayType(T.ArrayType(T.ShortType()))),
        T.StructField("part_ys", T.ArrayType(T.ArrayType(T.ShortType()))),
        T.StructField("poly_lens", T.ArrayType(T.IntegerType())),
        T.StructField("props_json", T.StringType()),
        T.StructField("feature_id", T.StringType()),
        T.StructField("id_kind", T.StringType()),
        T.StructField("n_simplified", T.IntegerType()),
        T.StructField("num_points", T.IntegerType()),
    ]
)


def geom_to_cols(g: K.Geom) -> dict:
    """Geom -> column dict (arrays as plain lists for Arrow)."""
    minx, miny, maxx, maxy = g.bbox()
    return {
        "gtype": int(g.gtype),
        "xs": g.pts[:, 0].tolist(),
        "ys": g.pts[:, 1].tolist(),
        "zs": g.pts[:, 2].tolist(),
        "part_lens": [int(v) for v in g.part_lens],
        "poly_lens": [int(v) for v in g.poly_lens],
        "part_meta": [float(v) for v in g.part_meta],
        "seg_start": [float(v) for v in g.seg_start],
        "seg_end": [float(v) for v in g.seg_end],
        "minx": minx,
        "miny": miny,
        "maxx": maxx,
        "maxy": maxy,
        "num_points": g.num_points,
    }


def row_to_geom(row) -> K.Geom:
    """Pandas row (dict-like) -> Geom. Arrays arrive as numpy object arrays."""
    xs = np.asarray(row["xs"], dtype=np.float64)
    pts = np.empty((xs.shape[0], 3))
    pts[:, 0] = xs
    pts[:, 1] = np.asarray(row["ys"], dtype=np.float64)
    pts[:, 2] = np.asarray(row["zs"], dtype=np.float64)
    return K.Geom(
        int(row["gtype"]),
        pts,
        np.asarray(row["part_lens"], dtype=np.int32),
        np.asarray(row["part_meta"], dtype=np.float64),
        np.asarray(row["seg_start"], dtype=np.float64),
        np.asarray(row["seg_end"], dtype=np.float64),
        np.asarray(row["poly_lens"], dtype=np.int32),
    )


def rows_to_pdf(rows: list[dict], schema: T.StructType) -> pd.DataFrame:
    """Build a pandas batch with all schema columns (empty-safe).

    Columns are assembled as object-dtype Series directly: letting pandas
    infer dtypes from a list of dicts runs maybe_convert_objects over every
    cell (measured 2.45 s vs 0.28 s for a 66k-row quantize batch) and Arrow
    coerces to the declared Spark schema either way.
    """
    if rows:
        names = [f.name for f in schema.fields]
        return pd.DataFrame(
            {n: pd.Series([r[n] for r in rows], dtype=object) for n in names},
            columns=names,
            copy=False,
        )
    return pd.DataFrame({f.name: pd.Series(dtype=object) for f in schema.fields})
