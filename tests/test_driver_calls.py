"""Driver work per pyramid call: Py4J round trips and partition probes.

The level loop builds its per-level expressions as SQL text, one Py4J
round trip each, and coalesces a level onto its parent's partitions
without planning it to read a partition count (``clip_stage.fit_parts``).
Built with the Column builder, a round trip per node, the same warm build
and append cost ~11.7k and ~10.5k round trips and read ``DataFrame.rdd``
on five levels each, so the budget below catches per-node expression
building or a per-level probe returning to the loop.
"""

from __future__ import annotations

import gc
import inspect

import pytest

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

from .golden_utils import DATELINE_GEOJSON, load_fixture

pytestmark = pytest.mark.spark

# deep enough for an append to reach interior tiles, leaves and new splits
OPTS = Options(index_max_zoom=4, index_max_points=100)
MAX_PY4J_CALLS = 2000


def _counters(monkeypatch, df_cls) -> dict:
    """Count Py4J round trips and ``DataFrame.rdd`` reads from now on."""
    from py4j.clientserver import ClientServerConnection

    calls = {"py4j": 0, "rdd": 0}
    send = ClientServerConnection.send_command

    def counted_send(self, command):
        calls["py4j"] += 1
        return send(self, command)

    rdd = inspect.getattr_static(df_cls, "rdd")
    rdd_get = getattr(rdd, "func", None) or rdd.fget

    def counted_rdd(self):
        calls["rdd"] += 1
        return rdd_get(self)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted_send)
    monkeypatch.setattr(df_cls, "rdd", property(counted_rdd))
    return calls


def test_warm_build_and_append_driver_calls(spark, monkeypatch):
    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    TilePyramid.from_documents(us, OPTS)  # warm-up

    # a collected Py4J object is released with a round trip of its own:
    # collect earlier calls' garbage first, so each call pays for its own
    gc.collect()
    calls = _counters(monkeypatch, type(us))
    pyr = TilePyramid.from_documents(us, OPTS)
    build = dict(calls)
    gc.collect()
    calls.update(py4j=0, rdd=0)
    pyr.append(docs_df=dl)
    append = dict(calls)
    monkeypatch.undo()

    assert len(pyr.stats) == OPTS.index_max_zoom + 1  # every level ran
    for name, c in (("build", build), ("append", append)):
        assert c["py4j"] < MAX_PY4J_CALLS, (name, c)
        # z0 is the one level whose partition count nothing has fixed
        assert c["rdd"] <= 1, (name, c)
