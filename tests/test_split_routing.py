"""Native trivial-clip routing is bit-identical to the kernel's.

The split and the fixed-window clips route rows natively with SQL
predicates that recompute the kernel's window bounds. Here bbox edges sit
exactly on every window bound and one ulp either side, and each SQL
decision must equal ``kernels.clip_feature``'s trivial accept / reject on
the same Python floats. A float literal that Spark parsed as DECIMAL, or a
reassociated bound, moves a decision at one of these edges — most visibly
at the non-dyadic margin (buffer 7, extent 3000)."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
import pytest

from geojson_vt_cpp_spark.functions import kernels as K
from geojson_vt_cpp_spark.operators.clip_stage import (
    _split_routing, _window_routing, sql_double,
)

pytestmark = pytest.mark.spark

# (buffer, extent): the default margin (dyadic) and a non-dyadic one
MARGINS = ((64, 4096), (7, 3000))
TILES = ((0, 0, 0), (3, 5, 2), (14, 9131, 6546))
# a one-point geometry: the clip only runs past the trivial tests, and a
# point's empty clip is retained as a placeholder, so [] means "rejected"
_POINT = K.Geom(K.GT_POINT, np.array([[0.5, 0.5, 1.0]]), np.array([1], np.int32),
                np.array([0.0]), np.zeros(1), np.ones(1))


def _decision(minv: float, maxv: float, axis: int, k1: float, k2: float) -> str:
    res = K.clip_feature(_POINT, minv, maxv, axis, k1, k2, False)
    if res == "accept":
        return "accept"
    return "reject" if res == [] else "clip"


def _edges(bounds) -> list[float]:
    """Every bound and its neighbouring doubles, sorted."""
    vals = {v2 for b in bounds
            for v2 in (np.nextafter(b, -np.inf), b, np.nextafter(b, np.inf))}
    return sorted(float(v) for v in vals)


def _bboxes(values: list[float]) -> list[tuple[float, float]]:
    """(min, max) pairs over ``values``, plus the empty-bbox sentinel."""
    pairs = [(a, b) for a, b in itertools.combinations_with_replacement(values, 2)]
    return pairs + [(2.0, -1.0)]


def test_double_literals_round_trip(spark):
    vals = [0.5, 0.0078125, 0.5 * 7 / 3000, -1 - 7 / 3000, 1 / 3, -0.0, 1e-300,
            9131.0 + 0.5 - 0.5 * 7 / 3000]
    df = spark.sql(
        "SELECT " + ", ".join(f"{sql_double(v)} AS c{i}" for i, v in enumerate(vals))
    )
    assert {f.dataType.typeName() for f in df.schema.fields} == {"double"}
    row = df.collect()[0]
    assert list(row) == vals
    assert math.copysign(1.0, row["c5"]) == -1.0


@pytest.mark.parametrize("buffer,extent", MARGINS)
def test_split_routing_matches_kernel(spark, buffer, extent):
    p = 0.5 * buffer / extent
    native, x_acc, y_acc = _split_routing(p)
    frames = []
    expected = []
    for z, x, y in TILES:
        z2 = float(1 << z)
        # split_children's kernel floats, in its operation order
        xw = ((x - p) / z2, (x + 0.5 + p) / z2), ((x + 0.5 - p) / z2, (x + 1 + p) / z2)
        yw = ((y - p) / z2, (y + 0.5 + p) / z2), ((y + 0.5 - p) / z2, (y + 1 + p) / z2)
        xb = _bboxes(_edges([k for w in xw for k in w]))
        yb = _bboxes(_edges([k for w in yw for k in w]))
        rows = [(z, x, y, mnx, mny, mxx, mxy)
                for (mnx, mxx), (mny, mxy) in itertools.product(xb, yb)]
        frames.append(pd.DataFrame(
            rows, columns=["z", "tx", "ty", "minx", "miny", "maxx", "maxy"]))
        for _z, _x, _y, mnx, mny, mxx, mxy in rows:
            dx = [_decision(mnx, mxx, 0, *w) for w in xw]
            dy = [_decision(mny, mxy, 1, *w) for w in yw]
            expected.append((
                all(d != "clip" for d in dx + dy),
                dx[0] == "accept", dx[1] == "accept",
                dy[0] == "accept", dy[1] == "accept",
            ))
    pdf = pd.concat(frames, ignore_index=True).astype(
        {"z": "int32", "tx": "int64", "ty": "int64"})
    got = (
        spark.createDataFrame(pdf)
        .selectExpr(f"{native} AS native", f"{x_acc[0]} AS x0", f"{x_acc[1]} AS x1",
                    f"{y_acc[0]} AS y0", f"{y_acc[1]} AS y1")
        .toPandas()
    )
    got = list(got.itertuples(index=False, name=None))
    assert len(got) == len(expected)
    bad = [(pdf.iloc[i].tolist(), g, e)
           for i, (g, e) in enumerate(zip(got, expected)) if g != e]
    assert not bad, bad[:5]
    # the edges really exercise every branch
    assert {e[0] for e in expected} == {True, False}
    assert {e[1] for e in expected} == {True, False}


@pytest.mark.parametrize("buffer,extent", MARGINS)
def test_fixed_window_routing_matches_kernel(spark, buffer, extent):
    """Wrap's side windows start below zero: negative k1."""
    b = buffer / extent
    windows = [(-1 - b, b), (-b, 1 + b), (1 - b, 2 + b), ((3 - b) / 8, (4 + b) / 8)]
    for axis in (0, 1):
        for k1, k2 in windows:
            acc, rej = _window_routing(axis, k1, k2)
            bb = _bboxes(_edges([k1, k2]))
            lo, hi = ("minx", "maxx") if axis == 0 else ("miny", "maxy")
            pdf = pd.DataFrame(bb, columns=[lo, hi])
            got = [
                "accept" if a else "reject" if r else "clip"
                for a, r in spark.createDataFrame(pdf)
                .selectExpr(f"{acc} AS a", f"{rej} AS r").toPandas()
                .itertuples(index=False, name=None)
            ]
            assert got == [_decision(mn, mx, axis, k1, k2) for mn, mx in bb], (axis, k1, k2)
            assert {"accept", "reject", "clip"} <= set(got)
