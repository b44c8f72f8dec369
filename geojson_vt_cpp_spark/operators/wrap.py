"""Antimeridian wrap stage (``include/mapbox/geojsonvt/wrap.hpp``).

One tiny aggregate decides whether world copies are needed at all (the
common case — no features near the dateline — costs a single agg and zero
rewrites, mirroring the reference's early return at ``wrap.hpp:25-26``);
otherwise three fixed-window clip passes produce left/center/right copies,
the side copies shifted by +-1 world width with JVM-native array transforms
(no Python for the shift). Output order is carried by ``copy_tag``
(left=0, center=1, right=2; ``wrap.hpp:31-40``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.operators.clip_stage import clip_fixed_window, stage_parts


def _shift(df: DataFrame, offset: float, copy_tag: int) -> DataFrame:
    """shiftCoords (wrap.hpp:10-17) — pure column expressions."""
    off = F.lit(float(offset))
    return (
        df.withColumn("xs", F.transform("xs", lambda v: v + off))
        .withColumn("minx", F.col("minx") + off)
        .withColumn("maxx", F.col("maxx") + off)
        .withColumn("copy_tag", F.lit(copy_tag))
    )


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
    npts = F.col("num_points")
    left = (F.col("maxx") >= -1 - buffer) & (F.col("minx") < buffer)
    right = (F.col("maxx") >= 1 - buffer) & (F.col("minx") < 2 + buffer)
    # rows the CENTER window cannot trivially accept (its Python-kernel
    # upper bound)
    center_mid = ~((F.col("minx") >= -buffer) & (F.col("maxx") < 1 + buffer))
    agg = feats.agg(
        F.sum(left.cast("int")).alias("n_left"),
        F.sum(right.cast("int")).alias("n_right"),
        F.sum((F.col("minx") > F.col("maxx")).cast("int")).alias("n_empty"),
        F.sum(npts).alias("p_all"),
        F.sum(F.when(left, npts).otherwise(0)).alias("p_left"),
        F.sum(F.when(right, npts).otherwise(0)).alias("p_right"),
        F.sum(F.when(center_mid, npts).otherwise(0)).alias("p_center_mid"),
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
