"""The tile registry: numpy blocks checked against the independent
driver-side mirror, bounded driver state at deep index_max_zoom, and the
build's job floor of one Spark job per BFS level."""

from __future__ import annotations

import resource

import pytest

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.operators.wrap import wrap_features
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import compare_tiles, load_fixture, my_feature_to_golden_shape
from .local_pyramid import LocalPyramid

pytestmark = pytest.mark.spark


def test_block_registry_matches_local_mirror(spark):
    """Registered keys, per-zoom stats, per-tile num_points and source
    retention of the block registry equal the tests/local_pyramid mirror's
    on us-states, after the build and after a drill-down, and so does the
    drilled tile (a mirror oracle: weaker than a golden, independent of
    Spark)."""
    text = load_fixture("us-states.json")
    o = Options()
    docs = documents_from_fixture(spark, text, "us-states")
    pyr = TilePyramid.from_documents(docs, o)
    lp = LocalPyramid(text, o)

    def check():
        assert set(pyr.meta.keys()) == {(t.z, t.x, t.y) for t in lp.tiles.values()}
        assert pyr.stats == lp.stats
        for t in lp.tiles.values():
            m = pyr.meta[(t.z, t.x, t.y)]
            assert (m.num_points, m.has_source) == (t.num_points, bool(t.source)), (
                t.z, t.x, t.y,
            )
        assert pyr.total == lp.total == pyr.meta._block_count

    check()
    t = pyr.get_tile(7, 37, 48)
    mirror = [my_feature_to_golden_shape(f) for f in lp.get_tile(7, 37, 48).features]
    errs = compare_tiles({"t": t.features}, {"t": mirror}, strict_geometry=True)
    assert not errs, errs[:10]
    check()
    pyr.close()


def _synth_point_features(spark, n: int):
    """n spread unit-square point features in the engine's features-table
    encoding (pure column expressions — no external data)."""
    return spark.range(n).selectExpr(
        "cast(id as string) as doc_id",
        "0 as span_idx", "0 as feature_idx", "0 as member_seq",
        "1 as copy_tag", "'' as slice_path",
        "cast(id as string) as feature_id", "'u64' as id_kind",
        "'{}' as props_json",
        "1 as gtype",
        "array(((id * 2654435761) % 99991) / cast(99991 as double)) as xs",
        "array(((id * 2246822519) % 99989) / cast(99989 as double)) as ys",
        "array(0.0d) as zs",
        "array(1) as part_lens", "cast(array() as array<int>) as poly_lens",
        "array(0.0d) as part_meta", "array(0.0d) as seg_start",
        "array(0.0d) as seg_end",
        "xs[0] as minx", "ys[0] as miny", "xs[0] as maxx", "ys[0] as maxy",
        "1 as num_points",
    )


def test_index_max_zoom_9_build_bounded_driver(spark):
    """VERDICT r3 #5 'done' gate: an index_max_zoom=9 synthetic build
    (50k spread points, index_max_points=1 so splitting continues to the
    cap) completes with the visited-tile registry in numpy blocks and
    bounded driver RSS growth."""
    feats = _synth_point_features(spark, 50_000)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024  # MB
    pyr = TilePyramid(
        feats,
        Options(index_max_zoom=9, index_max_points=1, max_zoom=14),
        pre_wrapped=True,
    )
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    assert pyr.meta._block_count > 50_000, pyr.meta._block_count
    assert pyr.total == sum(pyr.stats.values()) == pyr.meta._block_count
    # every point lands in >= 1 leaf; spot-check one registry lookup path
    some_key = next(iter(pyr.meta.keys()))
    assert some_key in pyr.meta and pyr.meta[some_key].rows >= 0
    # high-water RSS growth stays far below what ~200k dict+_Meta entries
    # would cost; loose bound for the shared box
    assert rss1 - rss0 < 250, (rss0, rss1)
    pyr.close()


def test_build_runs_one_job_per_level(spark):
    """The build's job floor: with its input converted, wrapped and
    checkpointed, a TilePyramid build runs exactly one Spark job per BFS
    level — the level's stats aggregate, into which the lazy level
    checkpoint fuses. A second job on any level (a broadcast key table,
    a count) shows up here. Adaptive execution is off, as in perfbench."""
    o = Options(index_max_zoom=2, index_max_points=1000)
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
    feats = wrap_features(
        extract_features(docs, tol), o.buffer / o.extent, o.line_metrics
    ).localCheckpoint()
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = "test-pyramid-build-jobs"
    try:
        sc.setJobGroup(group, "pyramid build")
        pyr = TilePyramid(feats, o, pre_wrapped=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(pyr.stats) == 3, pyr.stats
    assert len(jobs) == 3, jobs
    pyr.close()
