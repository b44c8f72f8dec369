"""The tile registry: numpy blocks checked against the independent
driver-side mirror, bounded driver state at deep index_max_zoom, the
build's and the append's job floor of one Spark job per BFS level, and
the build's partition sizing: one partition per stage for a small index,
a grown z0 for a large one-partition input."""

from __future__ import annotations

import resource

import pytest

from pyspark.sql import functions as F

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.operators.clip_stage import POINTS_PER_PART, stage_parts
from geojson_vt_cpp_spark.operators.convert import extract_features
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.operators.wrap import wrap_features, wrap_with_points
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import (
    DATELINE_GEOJSON, compare_tiles, load_fixture, my_feature_to_golden_shape,
)
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


def _synth_point_features(spark, n: int, parts: int | None = None):
    """n spread unit-square point features in the engine's features-table
    encoding (pure column expressions — no external data)."""
    return spark.range(0, n, 1, parts).selectExpr(
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


def _without_aqe(spark, group: str, fn):
    """Run ``fn`` under job group ``group`` with adaptive execution off
    (as in perfbench: stable job/stage/task counts); returns its result."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup(group, group)
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


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
    group = "test-pyramid-build-jobs"
    pyr = _without_aqe(spark, group, lambda: TilePyramid(feats, o, pre_wrapped=True))
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(pyr.stats) == 3, pyr.stats
    assert len(jobs) == 3, jobs
    pyr.close()


def test_append_runs_one_job_per_level(spark):
    """The append's job floor: a batch runs wrap's deciding aggregate, into
    which its lazy checkpoint fuses, then the build's level loop — one job
    per level it descends, the level's stats aggregate. A second us-states
    copy appended onto a 3-level index descends all three levels: 4 jobs.
    Adaptive execution is off, as in perfbench."""
    o = Options(index_max_zoom=2, index_max_points=1000)
    text = load_fixture("us-states.json")
    pyr = TilePyramid.from_documents(documents_from_fixture(spark, text, "us-states"), o)
    batch = documents_from_fixture(spark, text, "us-states-copy")
    group = "test-pyramid-append-jobs"
    _without_aqe(spark, group, lambda: pyr.append(docs_df=batch))
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(pyr.stats) == 3, pyr.stats
    assert len(jobs) == 4, jobs
    pyr.close()


def test_small_pyramid_runs_on_one_partition(spark):
    """The task floor of a small index: us-states (3,539 vertices, 9 tiles
    over 3 levels) is far below one stage_parts partition, so every level
    and the quantized output hold exactly one partition, and the whole
    from_documents + tile_features call runs 5 jobs of 21 tasks in all
    (local[4]; with a fixed 8 partitions per level the same call ran 90)."""
    o = Options(index_max_zoom=2, index_max_points=1000)
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    group = "test-small-pyramid-tasks"

    def build():
        p = TilePyramid.from_documents(docs, o)
        p.tile_features().count()
        return p

    pyr = _without_aqe(spark, group, build)
    tracker = spark.sparkContext.statusTracker()
    tasks = sum(
        tracker.getStageInfo(sid).numCompletedTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    assert pyr.total == 9 and len(pyr.stats) == 3, pyr.stats
    parts = {z: df.rdd.getNumPartitions() for z, df in pyr._level_assigned.items()}
    assert parts == {0: 1, 1: 1, 2: 1}, parts
    assert pyr.tile_features().rdd.getNumPartitions() == 1
    assert len(tracker.getJobIdsForGroup(group)) == 5
    assert tasks == 21, tasks
    pyr.close()


def test_z0_grows_a_one_partition_input(spark):
    """The z0 grow step: a one-partition input holding more than
    2 * POINTS_PER_PART vertices comes out of wrap (here a no-op: no
    feature reaches the world-copy windows) on stage_parts(points)
    partitions; coalesce alone would leave it on one."""
    n = 2 * POINTS_PER_PART + 5_000
    feats = (
        _synth_point_features(spark, n, parts=1)
        .withColumn("xs", F.expr("transform(xs, v -> 0.25d + v / 2)"))
        .withColumn("minx", F.col("xs")[0])
        .withColumn("maxx", F.col("xs")[0])
    )
    assert feats.rdd.getNumPartitions() == 1
    want = stage_parts(spark, n)
    assert want == 3
    pyr = TilePyramid(feats, Options(index_max_zoom=0, max_zoom=14))
    assert pyr._level_assigned[0].rdd.getNumPartitions() == want
    assert pyr.meta[(0, 0, 0)].num_points == n
    assert pyr._level_assigned[0].count() == n
    pyr.close()


def test_z1_grows_a_one_partition_pre_wrapped_input(spark):
    """A pre-wrapped input is not counted before its z0 stats aggregate,
    so a one-partition input stays on one partition at z0; the children of
    its split are sized from that aggregate and land on
    stage_parts(points) partitions, not on the two (native branch plus
    kernel) the split output holds."""
    n = 2 * POINTS_PER_PART + 5_000
    feats = _synth_point_features(spark, n, parts=1)
    want = stage_parts(spark, n)
    assert want == 3
    pyr = TilePyramid(
        feats, Options(index_max_zoom=1, index_max_points=100_000, max_zoom=14),
        pre_wrapped=True,
    )
    assert pyr.stats == {0: 1, 1: 4}, pyr.stats
    assert pyr._level_assigned[0].rdd.getNumPartitions() == 1
    z1 = pyr._level_assigned[1]
    assert z1.rdd.getNumPartitions() == want
    assert z1.count() == sum(pyr.meta[(1, x, y)].rows for x in (0, 1) for y in (0, 1))
    pyr.close()


def test_wrap_features_is_wrap_with_points(spark):
    """wrap_features is wrap_with_points without the count: both plans
    reshuffle each window's kernel rows onto stage_parts partitions (one
    Exchange per window), emit the same rows, and the count bounds the
    emitted vertices."""
    o = Options()
    docs = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    feats = extract_features(docs, 1e-7).localCheckpoint()
    plain = wrap_features(feats, o.buffer / o.extent, o.line_metrics)
    sized, points = wrap_with_points(feats, o.buffer / o.extent, o.line_metrics)

    def exchanges(df):
        return str(df._jdf.queryExecution().executedPlan()).count("Exchange")

    assert exchanges(plain) == exchanges(sized) == 3
    assert sorted(map(str, plain.collect())) == sorted(map(str, sized.collect()))
    assert points >= sized.agg(F.sum("num_points")).first()[0]
