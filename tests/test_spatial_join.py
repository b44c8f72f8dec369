"""Spatial-join operators vs in-memory brute-force oracles (FIXTURES.md §4):
point-in-polygon over the us-states polygons, kNN vs exhaustive sort,
cell-id codec roundtrips."""

from __future__ import annotations

import numpy as np
import pytest

from geojson_vt_cpp_spark.functions import cells as C
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.spatial_join import (
    knn_join,
    point_in_polygon_join,
)
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import load_fixture

pytestmark = pytest.mark.spark


def _unit_points(n: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    # concentrate around the US extent so polygons actually get hits
    pts = rng.uniform([0.15, 0.25], [0.35, 0.45], size=(n, 2))
    return pts


def test_cell_id_np_sql_roundtrip(spark):
    pts = _unit_points(500)
    for res in (4, 7, 10):
        want = C.cell_id_np(pts[:, 0], pts[:, 1], res)
        df = spark.createDataFrame(
            [(float(x), float(y)) for x, y in pts], "px double, py double"
        )
        got = np.array(
            [r[0] for r in df.select(C.cell_id(df.px, df.py, res)).collect()]
        )
        np.testing.assert_array_equal(np.sort(want), np.sort(got))
        # inverse
        ix, iy = C.cell_xy_np(want, res)
        n = 1 << res
        np.testing.assert_array_equal(ix, np.clip(np.floor(pts[:, 0] * n), 0, n - 1))
        np.testing.assert_array_equal(iy, np.clip(np.floor(pts[:, 1] * n), 0, n - 1))


def test_cell_id_sql_duckdb_matches_spark(spark):
    import duckdb

    pts = _unit_points(300, seed=7)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "px double, py double"
    )
    for res in (4, 7, 10):
        s_expr = C.cell_id_sql("px", "py", res, "spark")
        d_expr = C.cell_id_sql("px", "py", res, "duckdb")
        got_s = sorted(r[0] for r in df.selectExpr(f"{s_expr} as c").collect())
        con = duckdb.connect()
        con.register("pts", __import__("pandas").DataFrame(pts, columns=["px", "py"]))
        got_d = sorted(r[0] for r in con.execute(f"select {d_expr} as c from pts").fetchall())
        assert got_s == got_d


@pytest.fixture(scope="module")
def us_polys(spark):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    feats = extract_features(docs, 1e-9)  # negligible tolerance: raw shapes
    # re-rooted on a local relation, so the join's plan holds only the
    # join's own Python nodes
    return spark.createDataFrame(feats.collect(), feats.schema).cache()


def ray_cast_np(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd point-in-polygon for a batch of points vs one polygon — the
    brute-force oracle, independent of the engine's edge-join refinement.

    rings: list of (n,2) float arrays (closing vertex optional — the test
    wraps implicitly). Vectorized points x edges; holes fall out of the
    even-odd rule.
    """
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        if ring.shape[0] < 3:
            continue
        xi = ring[:, 0]
        yi = ring[:, 1]
        xj = np.roll(xi, 1)
        yj = np.roll(yi, 1)
        # (P, E) broadcasting
        y_between = (yi[None, :] > py[:, None]) != (yj[None, :] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (xj - xi)[None, :] * (py[:, None] - yi[None, :]) / (
                yj - yi
            )[None, :] + xi[None, :]
        crossings = y_between & (px[:, None] < x_cross)
        inside ^= (crossings.sum(axis=1) % 2).astype(bool)
    return inside


def _brute_pip(pts, feats_rows):
    """numpy oracle: point -> set of (doc_id) containing it."""
    out = {i: set() for i in range(len(pts))}
    for r in feats_rows:
        xs = np.asarray(r["xs"])
        ys = np.asarray(r["ys"])
        rings = []
        off = 0
        for n in r["part_lens"]:
            rings.append(np.stack([xs[off:off + n], ys[off:off + n]], axis=1))
            off += n
        hit = ray_cast_np(pts[:, 0], pts[:, 1], rings)
        for i in np.nonzero(hit)[0]:
            out[int(i)].add(r["doc_id"])
    return out


@pytest.mark.parametrize(
    "broadcast,broadcast_edges,id_type",
    [(b, e, "string") for b in (False, True) for e in (None, False, True)]
    + [(True, None, "long")],
)
def test_point_in_polygon_vs_brute_force(spark, us_polys, broadcast, broadcast_edges, id_type):
    pts = _unit_points(2000)
    ids = [f"p{i:05d}" if id_type == "string" else (1 << 40) + i for i in range(len(pts))]
    pdf = spark.createDataFrame(
        [(pid, float(x), float(y)) for pid, (x, y) in zip(ids, pts)],
        f"point_id {id_type}, px double, py double",
    )
    got = point_in_polygon_join(
        pdf, us_polys, broadcast=broadcast, broadcast_edges=broadcast_edges
    )
    # one refinement strategy: the edge table is the plan's only Python node
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    got_pairs = {(r["point_id"], r["doc_id"]) for r in got.collect()}
    oracle = _brute_pip(pts, us_polys.where("gtype in (3,6)").collect())
    want_pairs = {(ids[i], d) for i, ds in oracle.items() for d in ds}
    assert got_pairs == want_pairs
    assert len(want_pairs) > 200  # the sample really lands inside states


@pytest.mark.parametrize("ring,rounds", [(1, 4), (2, 3), (8, 1), (1 << 5, 1)])
def test_knn_vs_exhaustive(spark, ring, rounds):
    """At res 5: rings 1 and 2 leave stragglers for ring doubling, ring 8
    certifies every query in the first round, ring 32 covers the grid at
    once. Every query's (rank, site, dist2) matches the oracle exactly."""
    rng = np.random.RandomState(1)
    queries = rng.uniform(0.2, 0.8, size=(300, 2))
    sites = rng.uniform(0.2, 0.8, size=(150, 2))
    qdf = spark.createDataFrame(
        [(f"q{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(queries)],
        "query_id string, qx double, qy double",
    )
    sdf = spark.createDataFrame(
        [(f"s{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(sites)],
        "site_id string, sx double, sy double",
    )
    got = knn_join(qdf, sdf, k=5, res=5, ring=ring)
    assert got.columns == ["query_id", "qx", "qy", "site_id", "dist2", "knn_rank"]
    # one union child per round
    plan = got._jdf.queryExecution().optimizedPlan()
    assert (plan.children().size() if plan.nodeName() == "Union" else 1) == rounds
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["knn_rank"], r["site_id"], r["dist2"]))
    # oracle: the same x*x products in the same order as the engine
    dx = queries[:, None, 0] - sites[None, :, 0]
    dy = queries[:, None, 1] - sites[None, :, 1]
    d2 = dx * dx + dy * dy
    assert len(by_q) == len(queries)
    for i in range(len(queries)):
        order = sorted(range(len(sites)), key=lambda j: (d2[i, j], f"s{j:04d}"))[:5]
        want = [(rank, f"s{j:04d}", float(d2[i, j])) for rank, j in enumerate(order, 1)]
        gotl = sorted(by_q[f"q{i:04d}"])
        assert gotl == want, f"query {i}: {gotl} != {want}"


def test_distance_join_vs_exhaustive(spark):
    from geojson_vt_cpp_spark.operators.spatial_join import distance_join

    rng = np.random.RandomState(5)
    queries = rng.uniform(0.0, 1.0, size=(400, 2))
    sites = rng.uniform(0.0, 1.0, size=(200, 2))
    qdf = spark.createDataFrame(
        [(f"q{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(queries)],
        "query_id string, qx double, qy double",
    )
    sdf = spark.createDataFrame(
        [(f"s{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(sites)],
        "site_id string, sx double, sy double",
    )
    for radius, res in [(0.07, None), (0.07, 3), (0.3, None), (0.004, None)]:
        got = {
            (r["query_id"], r["site_id"])
            for r in distance_join(qdf, sdf, radius, res=res).collect()
        }
        d2 = ((queries[:, None, :] - sites[None, :, :]) ** 2).sum(axis=2)
        want = {
            (f"q{i:04d}", f"s{j:04d}")
            for i in range(len(queries)) for j in range(len(sites))
            if d2[i, j] <= radius * radius
        }
        assert got == want, f"radius={radius} res={res}: {len(got)} vs {len(want)}"
    assert len(want) > 0  # even the tightest radius matched pairs (non-vacuous)


def test_bbox_overlap_join_vs_exhaustive(spark):
    from geojson_vt_cpp_spark.operators.spatial_join import bbox_overlap_join

    rng = np.random.RandomState(9)

    def boxes(prefix, m, max_w):
        cs = rng.uniform(0.0, 1.0, size=(m, 2))
        ws = rng.uniform(0.0, max_w, size=(m, 2))
        return [
            (f"{prefix}{i:04d}", float(c[0] - w[0]), float(c[1] - w[1]),
             float(c[0] + w[0]), float(c[1] + w[1]))
            for i, (c, w) in enumerate(zip(cs, ws))
        ]

    a = boxes("a", 250, 0.06)
    b = boxes("b", 150, 0.12)  # some boxes span many cells at res 6
    adf = spark.createDataFrame(a, "a_id string, ax1 double, ay1 double, ax2 double, ay2 double")
    bdf = spark.createDataFrame(b, "b_id string, bx1 double, by1 double, bx2 double, by2 double")
    for res in (3, 6, 9):
        got = [(r["a_id"], r["b_id"]) for r in bbox_overlap_join(adf, bdf, res=res).collect()]
        assert len(got) == len(set(got)), f"res={res}: duplicate pairs reported"
        want = {
            (ai, bi)
            for ai, x1, y1, x2, y2 in a
            for bi, u1, v1, u2, v2 in b
            if x1 <= u2 and u1 <= x2 and y1 <= v2 and v1 <= y2
        }
        assert set(got) == want, f"res={res}: {len(got)} vs {len(want)}"
    assert len(want) > 0


def test_knn_ring_fallback_exact_no_site_broadcast(spark):
    """Scale-safe straggler path: isolated queries that cannot certify at
    ring 1 are resolved by ring doubling (never by broadcasting the full
    site table), with exhaustive-oracle exactness — including a query so
    remote the ring must cover the whole grid, and k > n_sites."""
    rng = np.random.RandomState(3)
    # clustered sites + far-away queries: phase-1 finds zero candidates
    sites = rng.uniform(0.05, 0.15, size=(40, 2))
    queries = np.vstack([
        rng.uniform(0.05, 0.15, size=(30, 2)),  # certify at ring 1
        np.array([[0.95, 0.95], [0.5, 0.92], [0.9, 0.1]]),  # isolated
    ])
    qdf = spark.createDataFrame(
        [(f"q{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(queries)],
        "query_id string, qx double, qy double",
    )
    sdf = spark.createDataFrame(
        [(f"s{i:04d}", float(x), float(y)) for i, (x, y) in enumerate(sites)],
        "site_id string, sx double, sy double",
    )
    got = knn_join(qdf, sdf, k=5, res=5, ring=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["knn_rank"], r["site_id"]))
    d2 = ((queries[:, None, :] - sites[None, :, :]) ** 2).sum(axis=2)
    for i in range(len(queries)):
        order = sorted(range(len(sites)), key=lambda j: (d2[i, j], f"s{j:04d}"))[:5]
        want = [f"s{j:04d}" for j in order]
        gotl = [s for _, s in sorted(by_q[f"q{i:04d}"])]
        assert gotl == want, f"query {i}: {gotl} != {want}"

    # k exceeding the site count: full-cover terminal returns every site
    got_all = knn_join(qdf.limit(2), sdf.limit(3), k=5, res=5, ring=1).collect()
    per_q = {}
    for r in got_all:
        per_q.setdefault(r["query_id"], []).append(r["site_id"])
    assert all(sorted(v) == ["s0000", "s0001", "s0002"] for v in per_q.values())
