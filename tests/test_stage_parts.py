"""The one partition-sizing rule of the tile stages, checked without Spark:
a stand-in session carries only ``sparkContext.defaultParallelism``."""

from __future__ import annotations

from types import SimpleNamespace

from geojson_vt_cpp_spark.operators.clip_stage import (
    POINTS_PER_PART, max_stage_parts, stage_parts,
)


def _session(default_parallelism: int):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=default_parallelism)
    )


def test_small_inputs_run_on_one_partition():
    s = _session(2)
    assert stage_parts(s, 0) == 1
    assert stage_parts(s, 1) == 1
    # in-repo us-states: 3,539 vertices after conversion
    assert stage_parts(s, 3_539) == 1
    assert stage_parts(s, POINTS_PER_PART) == 1
    assert stage_parts(s, POINTS_PER_PART + 1) == 2


def test_rule_is_monotone_and_capped():
    for dp in (1, 2, 4, 64):
        s = _session(dp)
        counts = sorted({0, 1, POINTS_PER_PART - 1, POINTS_PER_PART,
                         POINTS_PER_PART + 1, 7 * POINTS_PER_PART,
                         10**6, 10**8, 10**12}
                        | {k * 7_919 for k in range(500)})
        parts = [stage_parts(s, c) for c in counts]
        assert parts == sorted(parts), dp
        assert min(parts) == 1
        assert max(parts) == max_stage_parts(s) == 2 * dp


def test_documents_at_10_12_give_thousands_of_partitions():
    """A 10^12-document corpus (a few vertices each) on a 2048-core
    cluster takes the cap, 4096 partitions; below the cap the count is
    the exact ceiling."""
    s = _session(2048)
    assert stage_parts(s, 3 * 10**12) == 4096 == max_stage_parts(s)
    assert stage_parts(s, 100 * POINTS_PER_PART) == 100
    assert stage_parts(s, 100 * POINTS_PER_PART + 1) == 101
