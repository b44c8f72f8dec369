"""The one partition-sizing rule of the tile stages, checked without Spark:
a stand-in session carries only ``sparkContext.defaultParallelism``, a
stand-in DataFrame only its partition count."""

from __future__ import annotations

from types import SimpleNamespace

from geojson_vt_cpp_spark.operators.clip_stage import (
    POINTS_PER_PART, fit_parts, max_stage_parts, stage_parts,
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


class _Levels:
    """A stand-in DataFrame with ``parts`` partitions that counts the
    partition-count probes (``df.rdd`` reads) fit_parts makes."""

    def __init__(self, parts: int):
        self.parts = parts
        self.probes = 0

    @property
    def rdd(self):
        self.probes += 1
        return SimpleNamespace(getNumPartitions=lambda: self.parts)

    def coalesce(self, n):
        return ("coalesce", n)

    def repartition(self, n):
        return ("repartition", n)


def test_fit_parts_probes_only_above_the_known_lower_bound():
    # no bound known (z0): probe, then grow or shrink
    df = _Levels(2)
    assert fit_parts(df, 5) == (("repartition", 5), True)
    assert fit_parts(df, 2) == (("coalesce", 2), False)
    assert df.probes == 2
    # at or under the parent level's partitions: coalesce, no probe
    df = _Levels(6)
    assert fit_parts(df, 4, 4) == (("coalesce", 4), False)
    assert fit_parts(df, 1, 4) == (("coalesce", 1), False)
    assert df.probes == 0
    # above it: probe, and grow only past the real count
    assert fit_parts(df, 6, 4) == (("coalesce", 6), False)
    assert fit_parts(df, 8, 4) == (("repartition", 8), True)
    assert df.probes == 2
