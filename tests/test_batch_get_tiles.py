"""Batch get_tiles: hits + drill-down misses in one DataFrame read, equal to
the per-tile getTile results."""

from __future__ import annotations

import pytest

from geojson_vt_cpp_spark.config import Options, to_id
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import load_fixture
from .local_pyramid import LocalPyramid

pytestmark = pytest.mark.spark


def test_get_tiles_batch_matches_single(spark):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    pyr = TilePyramid.from_documents(docs, Options())
    # the reference test's exact request set (test.cpp:203-221) so the
    # drill accounting must land on total == 37, plus a wraparound dup
    reqs = [
        (0, 0, 0),          # hit (the default index's only eager tile)
        (7, 37, 48),        # miss -> drill-down
        (9, 148, 192),      # deeper miss -> drill-down
        (11, 800, 400),     # unreachable -> absent from output
        (7, 37 + 128, 48),  # x wraparound duplicate of (7,37,48)
    ]
    batch = pyr.get_tiles(reqs)
    got = {}
    for r in batch.select("z", "tx", "ty").distinct().collect():
        got[(r["z"], r["tx"], r["ty"])] = True
    assert (7, 37, 48) in got and (9, 148, 192) in got and (0, 0, 0) in got
    assert (11, 800, 400) not in got

    # per-tile equality with the single-tile path
    single = pyr.get_tile(7, 37, 48)
    n_batch = batch.where("z = 7 and tx = 37 and ty = 48").count()
    assert n_batch == len(single.features)
    assert pyr.total == 37  # same drill accounting as the single-tile path
    pyr.close()


def test_get_tiles_z10_block_batch_equals_per_miss(spark):
    """VERDICT r3 #1 'done' gate: a z10 block of 64 missing tiles under one
    ancestor drills in a job/stage count bounded by LEVELS (one split job
    per level of the batched BFS), not by misses — and produces a final
    pyramid state identical to drilling every miss one at a time."""
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    # the 8x8 block of z10 descendants of the golden z7/37/48 tile
    reqs = [(10, x, y) for x in range(296, 304) for y in range(384, 392)]
    assert len(reqs) == 64

    batch = TilePyramid.from_documents(docs, Options())
    rounds_before = len(batch.drill_log)
    batch.get_tiles(reqs)
    rounds = len(batch.drill_log) - rounds_before
    # one split per level from the nearest sourced ancestor (z >= 0) down
    # to z10 — never one per miss
    assert 0 < rounds <= 10, rounds

    permiss = TilePyramid.from_documents(docs, Options())
    for z, x, y in reqs:
        permiss.get_tile(z, x, y)

    assert set(batch.meta.keys()) == set(permiss.meta.keys())
    assert batch.total == permiss.total
    for k, m in batch.meta.items():
        pm = permiss.meta[k]
        assert (m.num_points, m.rows, m.has_source) == (
            pm.num_points, pm.rows, pm.has_source
        ), k
    assert batch.all_tiles() == permiss.all_tiles()
    batch.close()
    permiss.close()


def test_mixed_zoom_frontier_batch_equals_per_miss(spark):
    """One get_tiles call whose misses sit under sourced leaves at three
    zooms (z1, z2, z3) and under an empty tile leaves the same registry
    and tiles as one get_tile per miss and as the tests/local_pyramid
    mirror: ancestors of different zooms join the drill's level loop each
    at its own zoom, and the target under the empty tile stays a miss."""
    text = load_fixture("us-states.json")
    o = Options(index_max_zoom=3, index_max_points=200)
    docs = documents_from_fixture(spark, text, "us-states")
    reqs = [
        (3, 6, 1),   # under the sourced z1 leaf (1, 1, 0)
        (5, 2, 3),   # under the sourced z2 leaf (2, 0, 0)
        (6, 11, 21),  # under the sourced z3 leaf (3, 1, 2)
        (4, 5, 1),   # under the empty z2 tile (2, 1, 0): stays a miss
    ]

    batch = TilePyramid.from_documents(docs, o)
    lp = LocalPyramid(text, o)
    assert {(z, x, y) for (z, x, y), m in batch.meta.items()
            if m.has_source and m.rows > 0} >= {(1, 1, 0), (2, 0, 0), (3, 1, 2)}
    assert batch.meta[(2, 1, 0)].rows == 0
    batch.get_tiles(reqs)

    permiss = TilePyramid.from_documents(docs, o)
    for z, x, y in reqs:
        permiss.get_tile(z, x, y)
        lp.get_tile(z, x, y)

    assert (4, 5, 1) not in batch.meta
    assert set(batch.meta.keys()) == set(permiss.meta.keys()) == {
        (t.z, t.x, t.y) for t in lp.tiles.values()
    }
    assert batch.stats == permiss.stats == lp.stats
    for k, m in batch.meta.items():
        pm = permiss.meta[k]
        assert (m.num_points, m.rows, m.has_source) == (
            pm.num_points, pm.rows, pm.has_source
        ), k
        t = lp.tiles[to_id(*k)]
        assert (m.num_points, m.has_source) == (t.num_points, bool(t.source)), k
    got = batch.all_tiles()
    assert got == permiss.all_tiles()
    assert got == {f"z{t.z}-{t.x}-{t.y}": t.features for t in lp.tiles.values()}
    batch.close()
    permiss.close()
