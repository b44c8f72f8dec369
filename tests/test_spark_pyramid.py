"""Golden + regression parity of the SPARK pipeline (documents table ->
extract -> convert -> wrap -> BFS pyramid -> getTile drill-down), mirroring
/root/reference/test/test.cpp through the engine's real operators."""

from __future__ import annotations

import json

import pytest

from geojson_vt_cpp_spark.config import Options, TileOptions
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.operators.tile_one_shot import geojson_to_tile_df
from geojson_vt_cpp_spark.sources.documents import (
    documents_from_fixture,
    span_sequence_fingerprint,
)

from .golden_utils import (
    CROSSING_LINE_GEOJSON,
    DATELINE_GEOJSON,
    EMPTY_COLLECTION_GEOJSON,
    compare_tiles,
    load_fixture,
    load_golden_tiles,
    requires_fixtures,
)
from .local_pyramid import gen_tiles, geojson_to_tile

pytestmark = pytest.mark.spark


def _pyramid(spark, fixture, options):
    docs = documents_from_fixture(spark, load_fixture(fixture), fixture.split(".")[0])
    return TilePyramid.from_documents(docs, options)


def _gen_tiles(spark, fixture, max_zoom=0, max_points=10000, line_metrics=False):
    pyr = _pyramid(
        spark,
        fixture,
        Options(
            max_zoom=14,
            index_max_zoom=max_zoom,
            index_max_points=max_points,
            line_metrics=line_metrics,
        ),
    )
    # genTiles calls getTile for every materialized tile — all hits, so
    # all_tiles() (one Spark job) is equivalent
    out = pyr.all_tiles()
    pyr.close()
    return out


SUITES = [
    pytest.param(inp, gold, mz, mp, lm, marks=requires_fixtures(inp, gold))
    for (inp, gold, mz, mp, lm) in [
        ("us-states.json", "us-states-tiles.json", 7, 200, False),
        ("dateline.json", "dateline-tiles.json", 7, 200, False),
        ("dateline.json", "dateline-metrics-tiles.json", 0, 10000, True),
        ("feature.json", "feature-tiles.json", 0, 10000, False),
        ("collection.json", "collection-tiles.json", 0, 10000, False),
        ("single-geom.json", "single-geom-tiles.json", 0, 10000, False),
    ]
]


@pytest.mark.parametrize("inp,gold,mz,mp,lm", SUITES)
def test_spark_golden_tiles(spark, inp, gold, mz, mp, lm):
    mine = _gen_tiles(spark, inp, mz, mp, lm)
    golden = load_golden_tiles(gold)
    errs = compare_tiles(mine, golden, strict_geometry=True)
    assert not errs, errs[:10]


@requires_fixtures("us-states-z7-37-48.json", "us-states-square.json")
def test_spark_get_tile_us_states(spark):
    pyr = _pyramid(spark, "us-states.json", Options())
    golden = json.loads(load_fixture("us-states-z7-37-48.json"))
    t = pyr.get_tile(7, 37, 48)
    assert not compare_tiles({"k": t.features}, {"k": golden})
    square = json.loads(load_fixture("us-states-square.json"))
    assert not compare_tiles({"k": pyr.get_tile(9, 148, 192).features}, {"k": square})
    assert pyr.get_tile(11, 800, 400).features == []
    assert pyr.total == 37
    # x wraparound (geojsonvt.hpp:123)
    assert pyr.get_tile(7, 37 + 128, 48).features == t.features
    with pytest.raises(ValueError, match="maxZoom"):
        pyr.get_tile(19, 0, 0)
    pyr.close()


@requires_fixtures("us-states-z7-37-48-gen-ids.json")
def test_spark_generate_ids(spark):
    golden = json.loads(load_fixture("us-states-z7-37-48-gen-ids.json"))
    pyr = _pyramid(spark, "us-states.json", Options(generate_id=True))
    assert not compare_tiles({"k": pyr.get_tile(7, 37, 48).features}, {"k": golden})
    pyr.close()


@requires_fixtures("dateline-triangle.json")
def test_spark_antimeridian_triangle(spark):
    pyr = _pyramid(spark, "dateline-triangle.json", Options())
    for z, x, y in [(1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)]:
        t = pyr.get_tile(z, x, y)
        assert t.num_points == t.num_simplified
        assert len(t.features) == 1
    pyr.close()


@requires_fixtures("polygon-bug.json")
def test_spark_polygon_clipping_bug(spark):
    pyr = _pyramid(spark, "polygon-bug.json", Options(buffer=1024))
    t = pyr.get_tile(5, 19, 9)
    assert len(t.features) == 1 and t.num_points == 5
    assert t.features[0]["parts"] == [
        [[3072, 3072], [5120, 3072], [5120, 5120], [3072, 5120], [3072, 3072]]
    ]
    pyr.close()


@requires_fixtures("empty.json")
def test_spark_empty_geojson(spark):
    assert len(_gen_tiles(spark, "empty.json")) == 1


@requires_fixtures("single-tile.json")
def test_spark_one_shot_simple_and_metrics(spark):
    docs = documents_from_fixture(spark, load_fixture("single-tile.json"), "single-tile")
    rows = geojson_to_tile_df(docs, 12, 1171, 1566).collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["props_json"])["name"] == (
        "P Street Northwest - Massachusetts Avenue Northwest"
    )
    opts = TileOptions(line_metrics=True)
    left = geojson_to_tile_df(docs, 13, 2342, 3133, opts).collect()
    right = geojson_to_tile_df(docs, 13, 2343, 3133, opts).collect()
    assert len(left) == 1 and len(right) == 1
    lt = json.loads(left[0]["props_json"])
    rt = json.loads(right[0]["props_json"])
    assert lt["mapbox_clip_start"] == 0.0
    assert abs(lt["mapbox_clip_end"] - 0.42103) < 1e-5
    assert abs(rt["mapbox_clip_start"] - 0.40349) < 1e-5
    assert rt["mapbox_clip_end"] == 1.0


def test_spark_one_shot_clips(spark):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    rows = (
        geojson_to_tile_df(docs, 12, 1171, 1566, TileOptions(), False, True)
        .orderBy("copy_tag", "doc_id", "span_idx", "feature_idx", "member_seq", "slice_path")
        .collect()
    )
    assert len(rows) == 2
    assert json.loads(rows[0]["props_json"])["name"] == "District of Columbia"


def _one_shot(docs, z, x, y, opts, **kw):
    """The one-shot tile's (features, num_simplified), decoded like
    get_tile's."""
    from geojson_vt_cpp_spark.operators import codec
    from geojson_vt_cpp_spark.operators.pyramid import _rows_to_features

    rows = (
        geojson_to_tile_df(docs, z, x, y, opts, **kw)
        .orderBy(*codec.SORT_KEYS)
        .collect()
    )
    return _rows_to_features(rows)


def test_spark_one_shot_simple_and_metrics_inline_line(spark):
    """Runnable counterpart of test_spark_one_shot_simple_and_metrics on
    the inline CROSSING_LINE_GEOJSON: the Spark one-shot tile equals the
    local geoJSONToTile mirror at z12 and at the z13 pair under
    lineMetrics (buffer 64, tolerance 3), and the pair's slices start and
    end the line. Mirror parity, so weaker than the fixture test: both
    sides run the same kernels, so it catches Spark-stage bugs only."""
    docs = documents_from_fixture(spark, CROSSING_LINE_GEOJSON, "crossing-line")
    metrics = TileOptions(line_metrics=True, buffer=64, tolerance=3)
    tags = {}
    for z, x, y, opts in [
        (12, 1171, 1566, TileOptions()),
        (13, 2342, 3133, metrics),
        (13, 2343, 3133, metrics),
    ]:
        feats, nsimp = _one_shot(docs, z, x, y, opts)
        want = geojson_to_tile(CROSSING_LINE_GEOJSON, z, x, y, opts)
        assert feats == want.features and len(feats) == 1, (z, x, y)
        assert nsimp == want.num_simplified, (z, x, y)
        tags[(z, x)] = feats[0]["tags"]
    assert tags[(12, 1171)] == {"name": "inline street"}
    assert tags[(13, 2342)]["mapbox_clip_start"] == 0.0
    assert tags[(13, 2343)]["mapbox_clip_end"] == 1.0


def test_spark_empty_feature_collection(spark):
    """Runnable counterpart of test_spark_empty_geojson on an inline empty
    FeatureCollection: the build registers the one empty z0 tile, as the
    mirror's genTiles does (mirror parity: weaker than a golden)."""
    docs = documents_from_fixture(spark, EMPTY_COLLECTION_GEOJSON, "empty")
    pyr = TilePyramid.from_documents(
        docs, Options(max_zoom=14, index_max_zoom=0, index_max_points=10000)
    )
    out = pyr.all_tiles()
    pyr.close()
    assert len(out) == 1
    assert out == gen_tiles(EMPTY_COLLECTION_GEOJSON)


# the tiles of the row DATELINE_GEOJSON lies in, in the edge columns
_DATELINE_EDGE_TILES = [(0, 0, 0), (1, 0, 0), (1, 1, 0), (2, 0, 1), (2, 3, 1)]


@pytest.mark.parametrize("line_metrics", [False, True])
def test_spark_one_shot_wrap_matches_mirror(spark, line_metrics):
    """The one-shot ``wrap=True`` tile equals the local geoJSONToTile
    mirror with wrap on, over the antimeridian-crossing inputs: every tile
    of z0-z2, clip off and on. The edge-column tiles of the inputs' row
    are checked to be non-empty. Each tile is two jobs: wrap's deciding
    aggregate and the tile's one kernel."""
    docs = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    opts = TileOptions(line_metrics=line_metrics)
    for clip in (False, True):
        for z in range(3):
            for x in range(1 << z):
                for y in range(1 << z):
                    feats, nsimp = _one_shot(docs, z, x, y, opts, wrap=True, clip=clip)
                    want = geojson_to_tile(
                        DATELINE_GEOJSON, z, x, y, opts, wrap_=True, clip=clip
                    )
                    assert feats == want.features, (clip, z, x, y)
                    assert nsimp == want.num_simplified, (clip, z, x, y)
                    assert feats or (z, x, y) not in _DATELINE_EDGE_TILES


def test_spark_one_shot_wrap_is_one_kernel(spark):
    """A ``wrap=True`` one-shot tile plans one Python node: wrap's windows
    run inside the fused kernel, and wrap's deciding aggregate runs on the
    driver before the tile's plan is built."""
    docs = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    df = geojson_to_tile_df(docs, 1, 0, 0, wrap=True, clip=True)
    assert str(df._jdf.queryExecution().optimizedPlan()).count("MapInPandas") == 1


def _feature(name, geometry):
    return {"type": "Feature", "properties": {"name": name}, "geometry": geometry}


# lon 570 projects to x = 2.08, beyond every wrap window
_FAR_POINT = _feature("far point", {"type": "Point", "coordinates": [570, 10]})
_WRAP_CORPORA = {
    "far_next_to_crossing_line": (
        [_FAR_POINT, _feature("crossing line", {
            "type": "LineString", "coordinates": [[170, 60], [190, 60]]})],
        True,
    ),
    "far_alone": ([_FAR_POINT], False),
    "far_next_to_empty_and_interior": (
        [_FAR_POINT,
         _feature("empty", {"type": "MultiPoint", "coordinates": []}),
         _feature("interior polygon", {"type": "Polygon", "coordinates": [
             [[10, 10], [20, 10], [20, 20], [10, 20], [10, 10]]]})],
        True,
    ),
}


@pytest.mark.parametrize("corpus", sorted(_WRAP_CORPORA))
def test_spark_one_shot_wrap_corpus_decision(spark, corpus):
    """Wrap is decided for the whole corpus (wrap.hpp:25-26), not per
    feature. A far Point, which no wrap window reaches, is dropped by the
    center window when another feature activates wrap: a dateline-crossing
    line, or a zero-point geometry, whose inverted bbox every window
    accepts. Alone, it activates nothing and is kept, unwrapped. The
    Spark one-shot tile equals the mirror at z0-z1, clip off and on."""
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.operators.wrap import decide

    features, active = _WRAP_CORPORA[corpus]
    text = json.dumps({"type": "FeatureCollection", "features": features})
    docs = documents_from_fixture(spark, text, corpus)
    opts = TileOptions()
    assert decide(extract_features(docs, 0.0), opts.buffer / opts.extent)[0] == active
    for clip in (False, True):
        for z, x, y in [(0, 0, 0), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)]:
            feats, nsimp = _one_shot(docs, z, x, y, opts, wrap=True, clip=clip)
            want = geojson_to_tile(text, z, x, y, opts, wrap_=True, clip=clip)
            assert feats == want.features, (clip, z, x, y)
            assert nsimp == want.num_simplified, (clip, z, x, y)
            if not clip and z == 0:
                names = [f["tags"]["name"] for f in feats]
                assert ("far point" in names) == (not active), names


def test_spark_error_paths(spark):
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.sources.documents import DOCUMENTS_SCHEMA

    def docs_of(text):
        return spark.createDataFrame(
            [("doc-0000", [("geojson", text, "", 0)])], DOCUMENTS_SCHEMA
        )

    import py4j.protocol

    with pytest.raises(Exception, match="GeoJSON must be an object"):
        extract_features(docs_of("42"), 0.001).collect()
    with pytest.raises(Exception, match="Pologon geometry must have a coordinates property"):
        extract_features(docs_of('{"type": "Pologon"}'), 0.001).collect()
    # on_error='skip' drops the bad span instead
    assert extract_features(docs_of("42"), 0.001, on_error="skip").count() == 0


def test_span_sequence_invariant(spark):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    before = {r["doc_id"]: r["span_fp"] for r in span_sequence_fingerprint(docs).collect()}
    # run the full pipeline, then re-read the same documents by the doc_ids
    # that flowed through — spans must be untouched
    pyr = TilePyramid.from_documents(docs, Options(index_max_zoom=2))
    touched = {r["doc_id"] for r in pyr.tile_features().select("doc_id").distinct().collect()}
    after = {r["doc_id"]: r["span_fp"] for r in span_sequence_fingerprint(docs).collect()}
    assert touched and touched <= set(before)
    assert before == after
    pyr.close()


@requires_fixtures("linestring.json")
def test_spark_projection_roundtrip(spark):
    """GetTile.Projection (test.cpp:282-338) through the SPARK pipeline:
    z0-z20 drill-down of linestring.json, int16 coords re-projected to
    WGS84 within 0.1/(1+z). The z20 get_tile drills through every
    intermediate level, so a sampled zoom list still exercises the whole
    ancestor chain."""
    import math

    pyr = _pyramid(
        spark, "linestring.json", Options(max_zoom=20, extent=8192, tolerance=0)
    )
    coords = {
        0: (0, 0), 1: (0, 0), 3: (1, 3), 7: (20, 49), 12: (655, 1583),
        16: (10482, 25329), 20: (167719, 405281),
    }
    expected = [
        (-122.41822421550751, 37.77852514599172),
        (-122.41707086563109, 37.780424620898664),
    ]
    for z, (x, y) in sorted(coords.items()):
        t = pyr.get_tile(z, x, y)
        assert t.num_points == t.num_simplified
        assert len(t.features) == 1
        f = t.features[0]
        assert f["type"] == 2 and not f["is_multi"]
        line = f["parts"][0]
        assert len(line) == 2
        total = (1 << z) * 8192.0
        tol = 0.1 / (1 + z)
        for (px, py), (elon, elat) in zip(line, expected):
            lon = (8192.0 * x + px) * 360.0 / total - 180.0
            y2 = 180.0 - (8192.0 * y + py) * 360.0 / total
            lat = 360.0 / math.pi * math.atan(math.exp(y2 * math.pi / 180.0)) - 90.0
            assert abs(lon - elon) < tol, (z, lon, elon)
            assert abs(lat - elat) < tol, (z, lat, elat)
    pyr.close()
