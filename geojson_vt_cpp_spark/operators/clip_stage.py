"""Arrow-batched clip stages shared by wrap, the pyramid split, and one-shot
tile slicing.

Each stage is a ``mapInPandas`` kernel: whole Arrow batches cross the
Python boundary once, then the per-feature clip runs in numpy
(:func:`geojson_vt_cpp_spark.functions.kernels.clip_feature`). This is the
Spark re-expression of ``detail::clip<I>`` (``clip.hpp:264-317``): the
reference's per-call trivial accept/reject on (minAll, maxAll) is exactly
equivalent to the per-feature bbox test when applied row-wise (group-min >=
k1 implies every feature-min >= k1, and so on), so no per-tile grouping or
shuffle is needed — clips are fully narrow transforms.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import kernels as K
from geojson_vt_cpp_spark.operators import codec

# Vertices one task of a Python-kernel stage is sized to carry. A warm
# mapInPandas task costs ~0.02 CPU-s however few rows it gets (local[4],
# process-tree CPU less the JIT threads, medians of 10: 4 -> 16 no-op
# engine tasks read 0.175-0.18 -> 0.36-0.415 CPU-s; ~0.055 before the
# workers froze their heap, when the daemon's full collect after every task
# traversed it), and the serial clip kernel runs at ~1.1 us per vertex
# (clip_feature on in-repo us-states: 77 us per feature, 3,539 vertices
# over 52 features). 2^16 vertices are ~0.07 CPU-s of clipping, so a full
# task does at least as much kernel work as it pays in fixed cost, and a
# 13-tile pyramid of a few thousand vertices runs every stage on one
# partition. At ~0.02 CPU-s, 2^14 vertices would already do as much kernel
# work as a task pays; re-sizing changes every tile stage's plan and needs
# a measured change of its own.
POINTS_PER_PART = 1 << 16


def stage_parts(spark, points: int) -> int:
    """The partition count of a stage over ``points`` vertices:
    ``ceil(points / POINTS_PER_PART)`` clamped to [1, 2 * defaultParallelism].

    The one sizing rule of the tile stages (wrap windows, pyramid levels
    and their split kernels, append levels, drill rounds, quantize): each
    is sized from a vertex count its operator already aggregated, never
    from a fixed count. Points, not rows, because the kernels' work is
    per vertex and one state polygon outweighs a thousand points.
    """
    return max(1, min(max_stage_parts(spark), -(-int(points) // POINTS_PER_PART)))


def max_stage_parts(spark) -> int:
    """The cap of :func:`stage_parts`: two tasks per core."""
    return 2 * spark.sparkContext.defaultParallelism


def fit_parts(df: DataFrame, n: int, parts_at_least: int = 0) -> tuple[DataFrame, bool]:
    """``df`` on ``n`` partitions, and whether that took a shuffle: coalesce
    to shrink (narrow), round-robin repartition to grow — coalesce alone
    cannot fan a few-partition input out.

    ``parts_at_least`` is a lower bound on ``df``'s partition count that
    the caller knows without planning. At or under it, ``df`` coalesces
    without a probe: ``df.rdd.getNumPartitions()`` plans and builds the
    whole Dataset through ``javaToPython`` only to read a count, and the
    caller's checkpoint plans it again. The level loop passes its previous
    level's count, because a split output always has at least its parent
    level's partitions: its native side is a narrow transform of that
    level, and a union never has fewer partitions than a child. (It may
    have fewer than the sum of its children's, so that sum is no bound.)
    """
    if n > parts_at_least and n > df.rdd.getNumPartitions():
        return df.repartition(n), True
    return df.coalesce(n), False


def sql_double(v: float) -> str:
    """``v`` as a Spark SQL DOUBLE literal. Spark parses a bare decimal
    literal as DECIMAL; the quoted cast parses the shortest round-trip
    ``repr`` back to the same float, and constant folding leaves the
    literal a plain double in the optimized plan."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def iter_rows(pdf: pd.DataFrame) -> Iterator[dict]:
    cols = list(pdf.columns)
    for vals in zip(*(pdf[c].values for c in cols)):
        yield dict(zip(cols, vals))


def _emit_clipped(row: dict, geoms, line_metrics: bool) -> list[dict]:
    """Expand a clip_feature result into output rows.

    "accept" re-emits the row unchanged (the reference copies the feature,
    ``clip.hpp:290-291``); a >1 fan-out (lineMetrics) extends ``slice_path``
    with a zero-padded component per slice so emission order is preserved
    through subsequent sorts (``clip.hpp:303-311``).
    """
    if geoms == "accept":
        return [row]
    out = []
    fan = len(geoms) > 1
    for j, g in enumerate(geoms):
        r = dict(row)
        r.update(codec.geom_to_cols(g))
        if fan:
            r["slice_path"] = row["slice_path"] + f"|{j:04d}"
        out.append(r)
    return out


def clip_fixed_window(features_df, axis: int, k1: float, k2: float,
                      line_metrics: bool, kernel_parts: int | None = None):
    """Clip every feature to one fixed slab [k1, k2) — used by wrap and the
    one-shot tile path, where the window does not depend on the row.
    ``kernel_parts`` (wrap sizes it with :func:`stage_parts`) reshuffles
    the rows that need the kernel onto that many partitions; None keeps
    the input's partitioning.

    Trivially accepted rows (``min >= k1 and max < k2`` on the clip axis —
    the exact predicate ``kernels.clip_feature`` applies, including the
    inverted-bbox empty sentinel) pass through NATIVELY, and trivially
    rejected rows drop natively: both compare stored doubles against the
    same float literals the Python kernel would see, so the routing is
    bit-identical and only rows that genuinely need geometric clipping pay
    the Python boundary. On a wrap pass this removes ~all rows from the
    kernel (the center window trivially accepts everything away from the
    dateline; the side windows trivially reject it).
    """
    schema = features_df.schema
    acc, rej = _window_routing(axis, k1, k2)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                g = codec.row_to_geom(row)
                minv = row["minx"] if axis == 0 else row["miny"]
                maxv = row["maxx"] if axis == 0 else row["maxy"]
                res = K.clip_feature(g, minv, maxv, axis, k1, k2, line_metrics)
                rows.extend(_emit_clipped(row, res, line_metrics))
            yield codec.rows_to_pdf(rows, schema)

    mid_in = features_df.where(f"NOT {acc} AND NOT {rej}")
    if kernel_parts is not None:
        # the mid set is usually tiny (boundary crossers): a full-width
        # Python stage pays its per-task cost on every upstream partition
        mid_in = mid_in.repartition(kernel_parts)
    mid = mid_in.mapInPandas(kernel, schema)
    return features_df.where(acc).unionByName(mid)


def _acc_sql(lo: str, hi: str, k1: str, k2: str) -> str:
    """Trivial accept of the bbox (``lo``, ``hi``) by the window [k1, k2),
    as ``kernels.clip_feature`` tests it."""
    return f"({lo} >= {k1} AND {hi} < {k2})"


def _rej_sql(lo: str, hi: str, k1: str, k2: str) -> str:
    """Trivial reject, as ``kernels.clip_feature`` tests it."""
    return f"({hi} < {k1} OR {lo} >= {k2})"


def _child_windows(c: str, p: float) -> list[tuple[str, str]]:
    """The [k1, k2) bounds of the two child windows along tile column
    ``c`` (tx or ty) — split_children's kernel floats as SQL: a BIGINT
    tile coordinate converted to double, ``+ 1`` kept a BIGINT + INT add,
    and the same association."""
    ps, half = sql_double(p), sql_double(0.5)
    z2 = "CAST(shiftleft(1L, z) AS DOUBLE)"
    return [
        (f"(({c} - {ps}) / {z2})", f"((({c} + {half}) + {ps}) / {z2})"),
        (f"((({c} + {half}) - {ps}) / {z2})", f"((({c} + 1) + {ps}) / {z2})"),
    ]


def _window_routing(axis: int, k1: float, k2: float) -> tuple[str, str]:
    """(accept, reject) predicates, as SQL text, of the fixed window
    [k1, k2) on ``axis`` (see clip_fixed_window)."""
    lo, hi = ("minx", "maxx") if axis == 0 else ("miny", "maxy")
    k1s, k2s = sql_double(k1), sql_double(k2)
    return _acc_sql(lo, hi, k1s, k2s), _rej_sql(lo, hi, k1s, k2s)


def _split_routing(p: float) -> tuple[str, list[str], list[str]]:
    """(native, x_acc, y_acc) routing predicates, as SQL text, for the
    4-way split of a row's tile (z/tx/ty columns) with buffer margin
    ``p``: ``native`` is true when every child window trivially accepts or
    rejects the row's bbox — the exact IEEE operation sequence of the
    kernel's Python floats (see split_children docstring)."""
    xw, yw = _child_windows("tx", p), _child_windows("ty", p)

    def trivial(lo: str, hi: str, w: tuple[str, str]) -> str:
        return f"({_acc_sql(lo, hi, *w)} OR {_rej_sql(lo, hi, *w)})"

    trv = [trivial("minx", "maxx", w) for w in xw] + [trivial("miny", "maxy", w) for w in yw]
    native = f"((({trv[0]} AND {trv[1]}) AND {trv[2]}) AND {trv[3]})"
    return (native, [_acc_sql("minx", "maxx", *w) for w in xw],
            [_acc_sql("miny", "maxy", *w) for w in yw])


def split_mid_points_sql(buffer: int, extent: int) -> str:
    """Aggregate, as SQL text, summing the vertices of the rows a
    subsequent :func:`split_children` would send through the Python kernel
    (not natively routable) — lets callers size the kernel stage with
    :func:`stage_parts` from an aggregate they already run."""
    native, _x, _y = _split_routing(0.5 * buffer / extent)
    return f"sum(CASE WHEN NOT {native} THEN num_points ELSE 0 END)"


def split_children(assigned_df, buffer: int, extent: int, line_metrics: bool,
                   kernel_parts: int | None = None):
    """The 4-way pyramid split as one narrow mapInPandas pass.

    Input rows are features assigned to level-z tiles (columns z/tx/ty);
    output rows are the same features clipped into the four buffered child
    quadrants at level z+1 — the clip cascade of ``splitTile``
    (``geojsonvt.hpp:237-254``: x-clip into left/right halves, then y-clip
    each half), with buffer margin p = 0.5*buffer/extent scaled by 1/2^z.
    No shuffle: each feature expands into <= 4 child rows in place.

    Features whose bbox is TRIVIAL against all four child windows (each
    window trivially accepts or trivially rejects — the common case: a
    feature well inside one quadrant, or the empty-bbox sentinel) are
    routed to their children NATIVELY: the window bounds are recomputed as
    column expressions with the exact IEEE operation sequence the Python
    kernel uses ((tx - p)/2^z etc. — integer-to-double conversion,
    subtraction, division and the comparisons are all individually
    IEEE-exact and identically associated), so the routing decision is
    bit-identical to ``kernels.clip_feature``'s accept/reject branch and
    only rows that genuinely need geometric clipping cross the Python
    boundary (guide §4: fewer rows and bytes per crossing).

    ``kernel_parts`` (the pyramid build passes :func:`stage_parts` of the
    :func:`split_mid_points_sql` sum) reshuffles the kernel's rows onto
    that many partitions; None keeps the input's partitioning, which the
    caller already sized.
    """
    schema = assigned_df.schema
    p = 0.5 * buffer / extent

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                z = int(row["z"])
                x = int(row["tx"])
                y = int(row["ty"])
                z2 = float(1 << z)
                g = codec.row_to_geom(row)
                for dx, xk1, xk2 in (
                    (0, (x - p) / z2, (x + 0.5 + p) / z2),
                    (1, (x + 0.5 - p) / z2, (x + 1 + p) / z2),
                ):
                    res_x = K.clip_feature(
                        g, row["minx"], row["maxx"], 0, xk1, xk2, line_metrics
                    )
                    xrows = _emit_clipped(row, res_x, line_metrics)
                    for xr in xrows:
                        gx = g if res_x == "accept" else codec.row_to_geom(xr)
                        for dy, yk1, yk2 in (
                            (0, (y - p) / z2, (y + 0.5 + p) / z2),
                            (1, (y + 0.5 - p) / z2, (y + 1 + p) / z2),
                        ):
                            res_y = K.clip_feature(
                                gx, xr["miny"], xr["maxy"], 1, yk1, yk2,
                                line_metrics,
                            )
                            for yr in _emit_clipped(xr, res_y, line_metrics):
                                out = dict(yr)
                                out["z"] = z + 1
                                out["tx"] = 2 * x + dx
                                out["ty"] = 2 * y + dy
                                rows.append(out)
            yield codec.rows_to_pdf(rows, schema)

    # native trivial routing (see docstring): window bounds as SQL text,
    # same IEEE op order as the kernel's Python floats
    native, x_acc, y_acc = _split_routing(p)
    quads = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy, ({x_acc[dx]} AND {y_acc[dy]}) AS keep)"
        for dx in (0, 1)
        for dy in (0, 1)
    )
    # replacing z/tx/ty in place keeps the schema's column order without
    # listing every feature column (a Py4J round trip per list element)
    native_out = (
        assigned_df.where(native)
        .selectExpr("*", f"explode(filter(array({quads}), s -> s.keep)) AS q")
        .withColumns({
            "z": F.expr("CAST(z + 1 AS INT)"),
            "tx": F.expr("CAST(tx * 2 + q.dx AS BIGINT)"),
            "ty": F.expr("CAST(ty * 2 + q.dy AS BIGINT)"),
        })
        .drop("q")
    )
    kernel_in = assigned_df.where(f"NOT {native}")
    if kernel_parts is not None:
        # boundary-crossing rows are the minority AND spatially clustered:
        # a round-robin repartition of just this small set both sizes the
        # Python stage (per-task cost is paid kernel_parts times, not once
        # per upstream partition) and balances the real clip work (without
        # it the mid rows ride the parent's spatial skew into a straggler
        # task). The shuffle moves only mid rows.
        kernel_in = kernel_in.repartition(kernel_parts)
    kernel_out = kernel_in.mapInPandas(kernel, schema)
    return native_out.unionByName(kernel_out)
