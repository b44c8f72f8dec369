"""Incremental append: TilePyramid.append must equal a full rebuild over
the union corpus, recomputing only touched subtrees (untouched level
checkpoints / TableIO manifests are read back, never re-clipped)."""

from __future__ import annotations

import glob
import os

import pytest

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import DATELINE_GEOJSON, load_fixture

pytestmark = pytest.mark.spark

# deep-enough index that appends hit all three tile cases: interior
# (new rows only), leaf staying leaf, and leaf newly split (old rows
# pulled back)
OPTS = dict(index_max_zoom=4, index_max_points=100)


def _assert_same(a: TilePyramid, b: TilePyramid):
    assert set(a.meta.keys()) == set(b.meta.keys())
    assert a.stats == b.stats
    for k, m in a.meta.items():
        bm = b.meta[k]
        assert (m.num_points, m.rows, m.has_source) == (
            bm.num_points, bm.rows, bm.has_source
        ), k
    assert a.all_tiles() == b.all_tiles()


def test_append_equals_full_rebuild(spark):
    """VERDICT r3 #6 'done' gate (part 1): append(dateline) onto a
    us-states index ≡ full rebuild over the union — registry, stats,
    source retention, and every quantized tile feature."""
    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    o = Options(**OPTS)
    full = TilePyramid.from_documents(us.unionByName(dl), o)
    inc = TilePyramid.from_documents(us, o)
    sourced = {k for k, m in inc.meta.items() if m.rows > 0 and m.has_source}
    inc.append(docs_df=dl)
    _assert_same(full, inc)
    # a leaf newly split by the append: its old rows were pulled back
    assert any(
        (k[0] + 1, 2 * k[1], 2 * k[2]) in inc.meta for k in sourced
    ), "no sourced leaf was split by the append"
    # drill-down parity after append
    tf = full.get_tile(7, 37, 48)
    ti = inc.get_tile(7, 37, 48)
    assert ti.features == tf.features and full.total == inc.total
    full.close()
    inc.close()


def test_append_order_and_drill_guard(spark):
    """Appending in the other direction (dateline base, us-states appended)
    also reproduces the rebuild; appending after a drill raises."""
    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    o = Options(**OPTS)
    full = TilePyramid.from_documents(us.unionByName(dl), o)
    inc = TilePyramid.from_documents(dl, o)
    inc.append(docs_df=us)
    _assert_same(full, inc)
    inc.get_tile(7, 37, 48)
    with pytest.raises(RuntimeError, match="drill"):
        inc.append(docs_df=dl)
    full.close()
    inc.close()


def test_append_reads_back_untouched_manifests(spark, tmp_path):
    """VERDICT r3 #6 'done' gate (part 2): with a TableIO workdir, append
    leaves every eager-build level manifest byte-identical (untouched
    subtrees are READ BACK from their parquet stages, not recomputed) while
    still producing rebuild-identical tiles."""
    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    o = Options(**OPTS)
    from geojson_vt_cpp_spark.operators.convert import extract_features

    tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
    inc = TilePyramid(
        extract_features(us, tol), o, workdir=str(tmp_path / "pyr")
    )
    manifests = sorted(glob.glob(str(tmp_path / "pyr" / "*" / "_manifest.json")))
    assert manifests, "TableIO build produced no manifests"
    before = {p: (open(p, "rb").read(), os.path.getmtime(p)) for p in manifests}

    inc.append(features_df=extract_features(dl, tol))
    full = TilePyramid.from_documents(us.unionByName(dl), o)
    _assert_same(full, inc)

    after = {p: (open(p, "rb").read(), os.path.getmtime(p)) for p in manifests}
    assert before == after  # eager-level stages untouched by the append
    full.close()
    inc.close()


def test_build_equals_append_onto_empty_index(spark):
    """The build is an append onto an empty index: a pyramid built from no
    features, then appended us-states ∪ dateline, equals the pyramid built
    from us-states ∪ dateline — registry, stats, source retention and every
    quantized tile feature."""
    from geojson_vt_cpp_spark.operators.convert import extract_features

    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    docs = us.unionByName(dl)
    o = Options(index_max_zoom=3, index_max_points=200)
    tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
    inc = TilePyramid(extract_features(docs.limit(0), tol), o)
    assert inc.stats == {0: 1} and inc.meta[(0, 0, 0)].rows == 0
    inc.append(docs_df=docs)
    full = TilePyramid(extract_features(docs, tol), o)
    _assert_same(full, inc)
    full.close()
    inc.close()


@pytest.mark.parametrize("seed", [7, 19, 42])
def test_append_fuzz_equals_rebuild(spark, seed):
    """Seeded random-geometry append fuzz: arbitrary geometry mixes
    (dateline-adjacent wrap copies, boundary-aligned coords, all 7 type
    kinds) split into two batches — build(first) + append(second) must
    equal build(union) exactly, including a follow-up drill."""
    import json

    import numpy as np

    from tests.test_property_pyramid import _feature

    rng = np.random.RandomState(seed)
    feats = [_feature(rng, i) for i in range(rng.randint(8, 14))]
    cut = rng.randint(2, len(feats) - 2)
    mk = lambda fs: json.dumps({"type": "FeatureCollection", "features": fs})
    o = Options(index_max_zoom=3, index_max_points=2, max_zoom=14)

    # same doc naming in both paths so row identity matches exactly: each
    # feature is its own document
    def docs_of(fs, offset):
        from pyspark.sql import functions as F
        parts = [
            documents_from_fixture(spark, mk([f]), f"fz{seed}-{offset + i:03d}")
            for i, f in enumerate(fs)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    from geojson_vt_cpp_spark.operators.convert import extract_features

    tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
    full = TilePyramid(extract_features(docs_of(feats, 0), tol), o)
    inc = TilePyramid(extract_features(docs_of(feats[:cut], 0), tol), o)
    inc.append(docs_df=docs_of(feats[cut:], cut))
    _assert_same(full, inc)

    rng2 = np.random.RandomState(seed + 5)
    z = int(rng2.randint(4, 6))
    x = int(rng2.randint(0, 1 << z))
    y = int(rng2.randint(0, 1 << z))
    assert inc.get_tile(z, x, y).features == full.get_tile(z, x, y).features
    full.close()
    inc.close()
