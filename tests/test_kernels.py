"""Tier-1 kernel unit tests — exact expected values ported from the
reference's googletest suite (``/root/reference/test/test.cpp:32-201``)."""

from __future__ import annotations

import numpy as np
import pytest

from geojson_vt_cpp_spark.functions import kernels as K

# --- Simplify.Points (test.cpp:32-83) --------------------------------------

SIMPLIFY_INPUT = [
    (0.22455, 0.25015), (0.22691, 0.24419), (0.23331, 0.24145), (0.23498, 0.23606),
    (0.24421, 0.23276), (0.26259, 0.21531), (0.26776, 0.21381), (0.27357, 0.20184),
    (0.27312, 0.19216), (0.27762, 0.18903), (0.28036, 0.18141), (0.28651, 0.17774),
    (0.29241, 0.15937), (0.29691, 0.15564), (0.31495, 0.15137), (0.31975, 0.14516),
    (0.33033, 0.13757), (0.34148, 0.13996), (0.36998, 0.13789), (0.38739, 0.14251),
    (0.39128, 0.13939), (0.40952, 0.14114), (0.41482, 0.13975), (0.42772, 0.12730),
    (0.43960, 0.11974), (0.47493, 0.10787), (0.48651, 0.10675), (0.48920, 0.10945),
    (0.49379, 0.10863), (0.50474, 0.11966), (0.51296, 0.12235), (0.51863, 0.12089),
    (0.52409, 0.12688), (0.52957, 0.12786), (0.53421, 0.14093), (0.53927, 0.14724),
    (0.56769, 0.14891), (0.57525, 0.15726), (0.58062, 0.15815), (0.60153, 0.15685),
    (0.61774, 0.15986), (0.62200, 0.16704), (0.62955, 0.19460), (0.63890, 0.19561),
    (0.64126, 0.20081), (0.65177, 0.20456), (0.67155, 0.22255), (0.68368, 0.21745),
    (0.69525, 0.21915), (0.70064, 0.21798), (0.70312, 0.21436), (0.71226, 0.21587),
    (0.72149, 0.21281), (0.72781, 0.21336), (0.72998, 0.20873), (0.73532, 0.20820),
    (0.73994, 0.20477), (0.76998, 0.20842), (0.77960, 0.21687), (0.78420, 0.21816),
    (0.80024, 0.21462), (0.81053, 0.21973), (0.81719, 0.22682), (0.82077, 0.23617),
    (0.82723, 0.23616), (0.82989, 0.23989), (0.85100, 0.24894), (0.85988, 0.25549),
    (0.86521, 0.26853), (0.85795, 0.28030), (0.86548, 0.29145), (0.86681, 0.29866),
    (0.86468, 0.30271), (0.86779, 0.30617), (0.85987, 0.31137), (0.86008, 0.31435),
    (0.85829, 0.31494), (0.85810, 0.32760), (0.85454, 0.33540), (0.86092, 0.34300),
    (0.85643, 0.35015), (0.85142, 0.35296), (0.84984, 0.35959), (0.85456, 0.36553),
    (0.84974, 0.37038), (0.84409, 0.37189), (0.84475, 0.38044), (0.84152, 0.38367),
    (0.83957, 0.39040), (0.84559, 0.39905), (0.84840, 0.40755), (0.84371, 0.41130),
    (0.84409, 0.41988), (0.83951, 0.43276), (0.84133, 0.44104), (0.84762, 0.44922),
    (0.84716, 0.45844), (0.85138, 0.46279), (0.85397, 0.47115), (0.86636, 0.48077),
]

SIMPLIFY_EXPECTED = [
    (0.22455, 0.25015), (0.26776, 0.21381), (0.29691, 0.15564), (0.33033, 0.13757),
    (0.40952, 0.14114), (0.4396, 0.11974), (0.48651, 0.10675), (0.52957, 0.12786),
    (0.53927, 0.14724), (0.56769, 0.14891), (0.61774, 0.15986), (0.62955, 0.1946),
    (0.67155, 0.22255), (0.72781, 0.21336), (0.73994, 0.20477), (0.76998, 0.20842),
    (0.7842, 0.21816), (0.80024, 0.21462), (0.82077, 0.23617), (0.85988, 0.25549),
    (0.86521, 0.26853), (0.85795, 0.2803), (0.86779, 0.30617), (0.85829, 0.31494),
    (0.85454, 0.3354), (0.86092, 0.343), (0.84984, 0.35959), (0.85456, 0.36553),
    (0.84409, 0.37189), (0.83957, 0.3904), (0.8484, 0.40755), (0.83951, 0.43276),
    (0.85397, 0.47115), (0.86636, 0.48077),
]


def test_simplify_points():
    pts = np.zeros((len(SIMPLIFY_INPUT), 3))
    pts[:, :2] = SIMPLIFY_INPUT
    K.simplify_tag(pts, 0.001)
    kept = pts[pts[:, 2] > 0.005 * 0.005]
    assert kept.shape[0] == len(SIMPLIFY_EXPECTED)
    np.testing.assert_array_equal(kept[:, :2], np.asarray(SIMPLIFY_EXPECTED))


# --- Clip tests (test.cpp:85-201) -------------------------------------------

POLYLINE1 = [
    (0, 0), (50, 0), (50, 10), (20, 10), (20, 20), (30, 20), (30, 30), (50, 30),
    (50, 40), (25, 40), (25, 50), (0, 50), (0, 60), (25, 60), (30, 60),
]


def _line_geom(coords, dist=0.0):
    pts = np.zeros((len(coords), 3))
    pts[:, :2] = coords
    return K.Geom(K.GT_LINE, pts, np.array([len(coords)], np.int32),
                  np.array([dist]), np.zeros(1), np.array([dist]))


def _geom_parts_xy(g: K.Geom):
    return [p[:, :2].tolist() for p, _ in g.parts()]


def test_clip_polylines():
    g1 = _line_geom(POLYLINE1)
    out1 = K.clip_geom(g1, 0, 10, 40, False)
    assert out1.gtype == K.GT_MULTILINE
    assert _geom_parts_xy(out1) == [
        [[10, 0], [40, 0]],
        [[40, 10], [20, 10], [20, 20], [30, 20], [30, 30], [40, 30]],
        [[40, 40], [25, 40], [25, 50], [10, 50]],
        [[10, 60], [25, 60], [30, 60]],
    ]

    g2 = _line_geom([(0, 0), (50, 0), (50, 10), (0, 10)])
    out2 = K.clip_geom(g2, 0, 10, 40, False)
    assert out2.gtype == K.GT_MULTILINE
    assert _geom_parts_xy(out2) == [
        [[10, 0], [40, 0]],
        [[40, 10], [10, 10]],
    ]


def test_clip_polylines_line_metrics():
    coords = POLYLINE1[:-1]  # 14 points (test.cpp:112-115)
    pts = np.zeros((len(coords), 3))
    pts[:, :2] = coords
    dist = K.line_dist(pts)
    g = K.Geom(K.GT_LINE, pts, np.array([len(coords)], np.int32),
               np.array([dist]), np.zeros(1), np.array([dist]))
    out = K.clip_geom(g, 0, 10, 40, True)
    assert out.gtype == K.GT_MULTILINE
    np.testing.assert_allclose(out.seg_start, [10.0, 70.0, 160.0, 230.0])
    np.testing.assert_allclose(out.seg_end, [40.0, 130.0, 200.0, 245.0])


def test_clip_polygons():
    ring1 = POLYLINE1[:-1] + [(0, 0)]  # polygon variant drops (30,60); test.cpp:135-149
    pts = np.zeros((len(ring1), 3))
    pts[:, :2] = ring1
    g1 = K.Geom(K.GT_POLYGON, pts, np.array([len(ring1)], np.int32),
                np.array([0.0]), np.zeros(1), np.zeros(1))
    out1 = K.clip_geom(g1, 0, 10, 40, False)
    assert out1.gtype == K.GT_POLYGON
    assert _geom_parts_xy(out1) == [[
        [10, 0], [40, 0], [40, 10], [20, 10], [20, 20], [30, 20], [30, 30],
        [40, 30], [40, 40], [25, 40], [25, 50], [10, 50], [10, 60], [25, 60],
        [10, 24], [10, 0],
    ]]

    ring2 = [(0, 0), (50, 0), (50, 10), (0, 10), (0, 0)]
    pts2 = np.zeros((len(ring2), 3))
    pts2[:, :2] = ring2
    g2 = K.Geom(K.GT_POLYGON, pts2, np.array([len(ring2)], np.int32),
                np.array([0.0]), np.zeros(1), np.zeros(1))
    out2 = K.clip_geom(g2, 0, 10, 40, False)
    assert _geom_parts_xy(out2) == [[
        [10, 0], [40, 0], [40, 10], [10, 10], [10, 0],
    ]]


def test_clip_points():
    pts = np.zeros((14, 3))
    pts[:, :2] = POLYLINE1[:-1]
    g1 = K.Geom(K.GT_MULTIPOINT, pts, np.array([14], np.int32),
                np.zeros(1), np.zeros(1), np.zeros(1))
    out1 = K.clip_geom(g1, 0, 10, 40, False)
    assert out1.gtype == K.GT_MULTIPOINT
    assert out1.pts[:, :2].tolist() == [
        [20, 10], [20, 20], [30, 20], [30, 30], [25, 40], [25, 50], [25, 60]
    ]

    pts2 = np.zeros((4, 3))
    pts2[:, :2] = [(0, 0), (50, 0), (50, 10), (0, 10)]
    g2 = K.Geom(K.GT_MULTIPOINT, pts2, np.array([4], np.int32),
                np.zeros(1), np.zeros(1), np.zeros(1))
    # all points outside [10,40] on axis 0? no: 0,50,50,0 -> none in [10,40]
    assert K.clip_geom(g2, 0, 10, 40, False) is None


# --- quantization rounding (tile.hpp:136-140, C round semantics) ------------

def test_c_round_half_away_from_zero():
    v = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999, -0.49999, 0.0])
    np.testing.assert_array_equal(
        K._c_round(v), [1, 2, 3, -1, -2, -3, 0, 0, 0]
    )


def test_projection_poles():
    x, y = K.project_xy(np.array([0.0, 0.0]), np.array([90.0, -90.0]))
    assert y[0] == 0.0 and y[1] == 1.0


# --- simplify scalar/numpy path parity (round-6 optimization) ---------------

def test_simplify_scalar_numpy_paths_bit_identical(monkeypatch):
    """The short-segment scalar loop and the vectorized scan must produce
    bit-identical importance tags: same recursion pivots, same tie-breaks,
    same float values (the z column feeds the emit filters, so a single ULP
    flip would change tile output)."""
    import json
    import geojson_vt_cpp_spark.functions.kernels as KK

    rng = np.random.default_rng(42)
    cases = []
    for n in (3, 5, 17, 64, 127, 128, 200, 1000):
        cases.append(rng.random((n, 2)))
        # collinear + duplicate-heavy cases exercise seg==0 and exact ties
        line = np.linspace(0.0, 1.0, n)[:, None] * np.array([[1.0, 2.0]])
        cases.append(line)
        dup = np.repeat(rng.random((max(n // 3, 2), 2)), 3, axis=0)[:n]
        cases.append(dup)
    fx = json.loads(open("fixtures/us-states.json").read())
    for f in fx["features"][:10]:
        geom = f["geometry"]
        rings = geom["coordinates"] if geom["type"] == "Polygon" else [
            r for poly in geom["coordinates"] for r in poly
        ]
        for r in rings:
            arr = np.asarray(r, dtype=np.float64)
            x, y = KK.project_xy(arr[:, 0], arr[:, 1])
            cases.append(np.stack([x, y], axis=1))

    for tol in (0.0, 1e-6, 1e-4, 3e-3):
        for c in cases:
            a = np.zeros((c.shape[0], 3))
            a[:, :2] = c
            b = a.copy()
            monkeypatch.setattr(KK, "_SIMPLIFY_NP_MIN", 0)  # force numpy
            KK.simplify_tag(a, tol)
            monkeypatch.setattr(KK, "_SIMPLIFY_NP_MIN", 10**9)  # force scalar
            KK.simplify_tag(b, tol)
            assert a[:, 2].tobytes() == b[:, 2].tobytes(), (
                c.shape, tol, np.nonzero(a[:, 2] != b[:, 2]),
            )


# --- transform_tile scalar/numpy quantize parity (round-6 optimization) -----

@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_transform_scalar_numpy_paths_bit_identical(monkeypatch):
    """The short-part scalar quantize walk and the numpy chain must emit
    identical int values (same C-double op order; the & 0xFFFF wrap must
    match the low 16 bits of the int32 conversion), the same importance
    filtering, and the same n_simplified accounting — for every geometry
    type, at real and extreme coordinates (incl. out-of-int16-range values
    from unclipped transforms and non-finite coordinates, where the scalar
    path must fall back). Out of int32 range and non-finite values
    quantize to 0 on both paths by an explicit rule, not an undefined
    numpy cast: any RuntimeWarning fails the test."""
    import geojson_vt_cpp_spark.functions.kernels as KK

    rng = np.random.default_rng(7)

    def geoms():
        out = []
        for n in (1, 2, 3, 17, 127, 128, 300):
            pts = np.zeros((n, 3))
            pts[:, :2] = rng.random((n, 2)) * 1.2 - 0.1
            pts[:, 2] = rng.random(n) * 1e-5
            pts[[0, -1], 2] = 1.0
            out.append(KK.Geom(KK.GT_MULTIPOINT if n > 1 else KK.GT_POINT,
                               pts.copy(), np.array([n], np.int32),
                               np.array([5.0]), np.zeros(1), np.ones(1)))
            out.append(KK.Geom(KK.GT_LINE, pts.copy(), np.array([n], np.int32),
                               np.array([5.0]), np.zeros(1), np.ones(1)))
            if n >= 4:
                ring = pts.copy()
                ring[-1] = ring[0]
                out.append(KK.Geom(KK.GT_POLYGON, ring,
                                   np.array([n], np.int32), np.array([5.0]),
                                   np.zeros(1), np.ones(1)))
        # out-of-range coordinates (unclipped one-shot transforms can exceed
        # int16 after quantize -> the wrap formula must match astype)
        big = np.zeros((6, 3))
        big[:, 0] = [5.0, -3.0, 40.0, -40.0, 1e6, -1e6]
        big[:, 1] = [7.0, -9.0, 80.0, -80.0, 2e6, -2e6]
        big[:, 2] = 1.0
        out.append(KK.Geom(KK.GT_MULTIPOINT, big, np.array([6], np.int32),
                           np.array([5.0]), np.zeros(1), np.ones(1)))
        # non-finite coordinates: scalar path must fall back to numpy
        nf = np.zeros((3, 3))
        nf[:, 0] = [0.5, np.nan, np.inf]
        nf[:, 1] = [0.5, 0.5, -np.inf]
        nf[:, 2] = 1.0
        out.append(KK.Geom(KK.GT_MULTIPOINT, nf, np.array([3], np.int32),
                           np.array([5.0]), np.zeros(1), np.ones(1)))
        return out

    cases = geoms()  # one draw; transform_tile does not mutate its input
    for z, tx, ty in ((0, 0, 0), (3, 5, 2), (14, 9131, 6546)):
        for tol in (0.0, 1e-6, 3e-3):
            for lm in (False, True):
                monkeypatch.setattr(KK, "_TRANSFORM_NP_MIN", 0)  # force numpy
                a = [KK.transform_tile(g, float(1 << z), tx, ty, 4096, tol, lm)
                     for g in cases]
                monkeypatch.setattr(KK, "_TRANSFORM_NP_MIN", 10**9)  # scalar
                b = [KK.transform_tile(g, float(1 << z), tx, ty, 4096, tol, lm)
                     for g in cases]
                for (ta, na), (tb, nb) in zip(a, b):
                    assert na == nb
                    if ta is None or tb is None:
                        assert ta is None and tb is None
                        continue
                    assert ta.out_type == tb.out_type
                    assert ta.is_multi == tb.is_multi
                    assert ta.metrics == tb.metrics
                    assert ta.poly_lens.tolist() == tb.poly_lens.tolist()
                    assert ta.parts == tb.parts
