"""Antimeridian wrap stage (``include/mapbox/geojsonvt/wrap.hpp``).

One tiny aggregate decides whether world copies are needed at all (the
common case — no features near the dateline — costs a single agg and zero
rewrites, mirroring the reference's early return at ``wrap.hpp:25-26``);
otherwise three fixed-window clip passes produce left/center/right copies,
the side copies shifted by +-1 world width with JVM-native array transforms
(no Python for the shift). Output order is carried by ``copy_tag``
(left=0, center=1, right=2; ``wrap.hpp:31-40``). The expressions are SQL
text, so each crosses Py4J once rather than once per ``Column``-builder
node. The one-shot tile kernel runs the same :func:`windows` per feature
after the same :func:`decide`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.operators.clip_stage import (
    clip_fixed_window, sql_double, stage_parts,
)


def windows(buffer: float) -> tuple[tuple[float, float, float, int], ...]:
    """wrap's world-copy windows on x, as ``(k1, k2, shift, copy_tag)``:
    left ``[-1-b, b)`` shifted +1, center ``[-b, 1+b)`` unshifted, right
    ``[1-b, 2+b)`` shifted -1 (``wrap.hpp:27-40``)."""
    return (
        (-1 - buffer, buffer, 1.0, 0),
        (-buffer, 1 + buffer, 0.0, 1),
        (1 - buffer, 2 + buffer, -1.0, 2),
    )


def decide(feats: DataFrame, buffer: float) -> tuple[bool, Row]:
    """Whether wrap makes world copies of ``feats``, and the deciding
    aggregate's row.

    A side copy is non-empty when some row is not trivially rejected by
    that side's window — the per-feature accept/reject predicates the clip
    applies (clip.hpp:287-293), folded into one aggregate. Zero-point
    features (EMPTY geometry or a retained empty clip result) carry the
    inverted bbox sentinel (minx > maxx) and are trivially accepted by every
    window, so their presence alone activates wrap (faithful to the
    reference). The row also sums ``num_points`` over all rows and over the
    rows each window may have to clip (``p_all``, ``p_left``, ``p_right``,
    ``p_center_mid``).
    """
    (l1, l2, _, _), (c1, c2, _, _), (r1, r2, _, _) = windows(buffer)
    left = f"(maxx >= {sql_double(l1)} AND minx < {sql_double(l2)})"
    right = f"(maxx >= {sql_double(r1)} AND minx < {sql_double(r2)})"
    # rows the CENTER window cannot trivially accept (its Python-kernel
    # upper bound)
    center_mid = f"NOT (minx >= {sql_double(c1)} AND maxx < {sql_double(c2)})"
    agg = feats.selectExpr(
        f"sum(CAST({left} AS INT)) AS n_left",
        f"sum(CAST({right} AS INT)) AS n_right",
        "sum(CAST(minx > maxx AS INT)) AS n_empty",
        "sum(num_points) AS p_all",
        f"sum(CASE WHEN {left} THEN num_points ELSE 0 END) AS p_left",
        f"sum(CASE WHEN {right} THEN num_points ELSE 0 END) AS p_right",
        f"sum(CASE WHEN {center_mid} THEN num_points ELSE 0 END) AS p_center_mid",
    ).first()
    return bool(agg["n_left"] or agg["n_right"] or agg["n_empty"]), agg


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
    """``detail::wrap``: :func:`wrap_with_points` without the count.

    ``max_kernel_parts`` is ignored. It remains only because the frozen
    perfbench traced build passes it.
    """
    return wrap_with_points(feats, buffer, line_metrics)[0]


def wrap_with_points(feats: DataFrame, buffer: float,
                     line_metrics: bool) -> tuple[DataFrame, int]:
    """``detail::wrap`` plus the vertex count of its output — the input
    unchanged when :func:`decide` finds no world copy to make.

    Each window's kernel stage is sized by :func:`stage_parts` from the
    deciding aggregate's point sums, and the returned count — the input's
    vertices plus those the side copies can add — sizes the caller's next
    stage.
    """
    spark = feats.sparkSession
    active, agg = decide(feats, buffer)
    p_all = int(agg["p_all"] or 0)
    if not active:
        return feats, p_all
    p_left, p_right = int(agg["p_left"] or 0), int(agg["p_right"] or 0)
    points = (p_left, int(agg["p_center_mid"] or 0), p_right)
    copies = []
    for (k1, k2, off, tag), p in zip(windows(buffer), points):
        df = clip_fixed_window(feats, 0, k1, k2, line_metrics, stage_parts(spark, p))
        copies.append(_shift(df, off, tag) if off else df)
    wrapped = copies[0].unionByName(copies[1]).unionByName(copies[2])
    return wrapped, p_all + p_left + p_right
