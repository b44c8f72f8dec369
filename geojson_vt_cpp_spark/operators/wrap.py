"""Antimeridian wrap stage (``include/mapbox/geojsonvt/wrap.hpp``).

One tiny aggregate decides whether world copies are needed at all (the
common case — no features near the dateline — costs a single agg and zero
rewrites, mirroring the reference's early return at ``wrap.hpp:25-26``);
otherwise three fixed-window clip passes produce left/center/right copies,
the side copies shifted by +-1 world width with JVM-native array transforms
(no Python for the shift). Output order is carried by ``copy_tag``
(left=0, center=1, right=2; ``wrap.hpp:31-40``). The expressions are SQL
text, so each crosses Py4J once rather than once per ``Column``-builder
node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.operators.clip_stage import (
    clip_fixed_window, sql_double, stage_parts,
)


def _shift(df: DataFrame, offset: float, copy_tag: int) -> DataFrame:
    """shiftCoords (wrap.hpp:10-17) — pure SQL expressions."""
    off = sql_double(offset)
    return df.withColumns({
        "xs": F.expr(f"transform(xs, v -> v + {off})"),
        "minx": F.expr(f"minx + {off}"),
        "maxx": F.expr(f"maxx + {off}"),
        "copy_tag": F.expr(str(copy_tag)),
    })


def wrap_features(feats: DataFrame, buffer: float, line_metrics: bool,
                  max_kernel_parts: int | None = None) -> DataFrame:
    """``detail::wrap`` — returns the input unchanged when no feature can
    reach the left/right world-copy windows.

    Each window's Python kernel runs on the input's partitioning (the
    one-shot tile path and the checkpointed pipeline's ``wrapped`` stage
    keep the plan they always had) unless ``max_kernel_parts`` is given;
    then the windows are sized as in :func:`wrap_with_points`. Only whether
    it is given matters: its value is unused, because :func:`stage_parts`
    caps at the same two partitions per core the perfbench traced build
    passes, and that frozen caller is why the keyword still exists.
    """
    return _wrap(feats, buffer, line_metrics, max_kernel_parts is not None)[0]


def wrap_with_points(feats: DataFrame, buffer: float,
                     line_metrics: bool) -> tuple[DataFrame, int]:
    """``detail::wrap`` plus the vertex count of its output.

    Emptiness of the side copies is decided by the same per-feature
    accept/reject predicates the clip applies (clip.hpp:287-293), folded
    into one aggregate; zero-point features (EMPTY geometry or a retained
    empty clip result) carry the inverted bbox sentinel (minx > maxx) and
    are trivially accepted by every window, so their presence alone
    activates wrap (faithful to the reference).

    The same aggregate sums ``num_points`` over all rows and over the rows
    each window may have to clip, so each window's kernel stage is sized
    by :func:`stage_parts`, and the returned count — the input's vertices
    plus those the side copies can add — sizes the caller's next stage.
    """
    return _wrap(feats, buffer, line_metrics, True)


def _wrap(feats: DataFrame, buffer: float, line_metrics: bool,
          sized: bool) -> tuple[DataFrame, int]:
    spark = feats.sparkSession
    left = f"(maxx >= {sql_double(-1 - buffer)} AND minx < {sql_double(buffer)})"
    right = f"(maxx >= {sql_double(1 - buffer)} AND minx < {sql_double(2 + buffer)})"
    # rows the CENTER window cannot trivially accept (its Python-kernel
    # upper bound)
    center_mid = f"NOT (minx >= {sql_double(-buffer)} AND maxx < {sql_double(1 + buffer)})"
    agg = feats.selectExpr(
        f"sum(CAST({left} AS INT)) AS n_left",
        f"sum(CAST({right} AS INT)) AS n_right",
        "sum(CAST(minx > maxx AS INT)) AS n_empty",
        "sum(num_points) AS p_all",
        f"sum(CASE WHEN {left} THEN num_points ELSE 0 END) AS p_left",
        f"sum(CASE WHEN {right} THEN num_points ELSE 0 END) AS p_right",
        f"sum(CASE WHEN {center_mid} THEN num_points ELSE 0 END) AS p_center_mid",
    ).first()
    p_all = int(agg["p_all"] or 0)
    n_left = (agg["n_left"] or 0) + (agg["n_empty"] or 0)
    n_right = (agg["n_right"] or 0) + (agg["n_empty"] or 0)
    if n_left == 0 and n_right == 0:
        return feats, p_all

    def kp(points) -> int | None:
        return stage_parts(spark, points or 0) if sized else None

    p_left, p_right = int(agg["p_left"] or 0), int(agg["p_right"] or 0)
    left_df = clip_fixed_window(feats, 0, -1 - buffer, buffer, line_metrics,
                                kp(p_left))
    center = clip_fixed_window(feats, 0, -buffer, 1 + buffer, line_metrics,
                               kp(agg["p_center_mid"]))
    right_df = clip_fixed_window(feats, 0, 1 - buffer, 2 + buffer, line_metrics,
                                 kp(p_right))
    wrapped = (
        _shift(left_df, 1.0, 0)
        .unionByName(center)
        .unionByName(_shift(right_df, -1.0, 2))
    )
    return wrapped, p_all + p_left + p_right
