"""changed_tiles: the incremental-publishing diff — append's change set
exactly, nothing from untouched subtrees, empty diff on identical input."""

from __future__ import annotations

import pytest

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.operators.tile_diff import changed_tiles, tile_digests
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import DATELINE_GEOJSON, load_fixture

pytestmark = pytest.mark.spark


def test_identity_diff_is_empty(spark):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    pyr = TilePyramid.from_documents(docs, Options(index_max_zoom=2, index_max_points=100))
    tf = pyr.tile_features()
    assert changed_tiles(tf, tf).count() == 0
    n_digests = tile_digests(tf).count()
    # one digest per tile that quantized >= 1 row; bounded by the registry
    assert 0 < n_digests <= pyr.total
    pyr.close()


def test_append_diff_is_exactly_the_touched_tiles(spark):
    """Diff(old version, appended version) equals the brute-force pandas
    diff of the two tile tables AND never includes a tile whose rows are
    identical across versions."""
    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    o = Options(index_max_zoom=4, index_max_points=100)
    pyr = TilePyramid.from_documents(us, o)
    old_pdf = pyr.tile_features().toPandas()
    old_tf = spark.createDataFrame(old_pdf, pyr.tile_features().schema)

    pyr.append(docs_df=dl)
    new_tf = pyr.tile_features()
    new_pdf = new_tf.toPandas()

    got = {
        (r["z"], r["tx"], r["ty"]): r["change"]
        for r in changed_tiles(old_tf, new_tf).collect()
    }

    def tiles_of(pdf):
        out = {}
        for _, r in pdf.iterrows():
            key = (r["z"], r["tx"], r["ty"])
            row = tuple(
                str(r[c]) for c in pdf.columns if c not in ("z", "tx", "ty")
            )
            out.setdefault(key, []).append(row)
        return {k: sorted(v) for k, v in out.items()}

    ot, nt = tiles_of(old_pdf), tiles_of(new_pdf)
    want = {}
    for k in set(ot) | set(nt):
        if k not in ot:
            want[k] = "added"
        elif k not in nt:
            want[k] = "removed"
        elif ot[k] != nt[k]:
            want[k] = "modified"
    assert got == want
    assert len(got) > 0 and "added" in got.values()
    # untouched tiles stay out of the diff
    unchanged = set(ot) & set(nt) - set(got)
    assert unchanged, "expected untouched tiles to exist"
    pyr.close()
