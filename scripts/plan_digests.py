"""Normalized Spark plans of every pyramid action, for plan-identity checks.

Runs four pyramid scenarios and one one-shot scenario offline on in-repo
inputs and writes, for every action and ``localCheckpoint`` the engine
issues (``toPandas``, ``collect``, ``count``, ``take``, ``localCheckpoint``
and ``DataFrame.rdd`` partition probes), the optimized and the physical
plan of the DataFrame it ran on:

  build      us-states, ``index_max_zoom=4``, ``index_max_points=100``
  append     the ``DATELINE_GEOJSON`` append onto that build
  drill      a default-options us-states build and two cold ``get_tile``
             drills, (7, 37, 48) then (9, 148, 192)
  prewrap    the first scenario's build through ``wrap_features`` and
             ``TilePyramid(pre_wrapped=True)``
  oneshot    ``geojson_to_tile_df(...).count()`` of the benchmarks' tile,
             us-states (12, 1171, 1566) with ``wrap=False, clip=True``,
             and of the ``DATELINE_GEOJSON`` tile (1, 0, 0) with
             ``wrap=True, clip=True``

Plans are normalized so that two runs of the same code print the same
text: expression ids (``#123``), plan ids and numbered lambda variables
are stripped. The physical plan is the one planned before execution (for
an adaptive plan, its initial plan).

  python3 scripts/plan_digests.py OUT_DIR [cpus]

writes ``OUT_DIR/<scenario>/<NNN>_<call>.txt`` per call,
``OUT_DIR/<scenario>/registry.txt`` (stats, total and digests of the
registry and of ``all_tiles()``, read with recording paused),
``OUT_DIR/oneshot/rows.txt`` (row count and digest of each one-shot tile's
sorted rows, read with recording paused) and
``OUT_DIR/digests.txt``, one ``sha256  path`` line per file. Run it on two
checkouts and compare them with ``diff -r OUT_A OUT_B``.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # a Column-built lambda prints its variable as ``lambda x_12#34``
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


class Recorder:
    """Wraps the DataFrame actions and writes each call's plans."""

    CALLS = ("toPandas", "collect", "count", "take", "localCheckpoint")

    def __init__(self, df_cls, out_dir: str):
        self.df_cls = df_cls
        self.out_dir = out_dir
        self.scenario = ""
        self.n = 0
        self.depth = 0  # calls made inside a recorded call are not recorded
        self.paths: list[str] = []
        self._saved = {
            name: inspect.getattr_static(df_cls, name)
            for name in self.CALLS + ("rdd",)
        }

    def start(self, scenario: str) -> None:
        self.scenario, self.n = scenario, 0
        os.makedirs(os.path.join(self.out_dir, scenario), exist_ok=True)

    def _record(self, name: str, df) -> None:
        qe = df._jdf.queryExecution()
        text = (
            "== optimized ==\n" + normalize(qe.optimizedPlan().toString())
            + "\n== physical ==\n" + normalize(qe.executedPlan().toString())
        )
        rel = os.path.join(self.scenario, f"{self.n:03d}_{name}.txt")
        self.n += 1
        with open(os.path.join(self.out_dir, rel), "w") as f:
            f.write(text)
        self.paths.append(rel)

    def _wrap(self, name: str, fn):
        rec = self

        def wrapped(self, *args, **kwargs):
            if rec.depth == 0:
                rec._record(name, self)
            rec.depth += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                rec.depth -= 1

        return wrapped

    def install(self) -> None:
        for name in self.CALLS:
            setattr(self.df_cls, name, self._wrap(name, self._saved[name]))
        rdd = self._saved["rdd"]
        rdd_get = getattr(rdd, "func", None) or rdd.fget
        setattr(self.df_cls, "rdd", property(self._wrap("rdd", rdd_get)))

    @contextlib.contextmanager
    def paused(self):
        self.depth += 1
        try:
            yield
        finally:
            self.depth -= 1


def registry_text(pyr) -> str:
    """Stats, total, and sha256 digests of the registry and all_tiles()."""
    meta = sorted(
        (k, (m.num_points, m.rows, m.has_source)) for k, m in pyr.meta.items()
    )
    tiles = json.dumps(pyr.all_tiles(), sort_keys=True)
    return "\n".join([
        f"stats {json.dumps(pyr.stats)}",
        f"total {pyr.total}",
        "meta " + hashlib.sha256(repr(meta).encode()).hexdigest(),
        "all_tiles " + hashlib.sha256(tiles.encode()).hexdigest(),
        "",
    ])


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("plan-digests")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from geojson_vt_cpp_spark.config import Options
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
    from geojson_vt_cpp_spark.operators.tile_one_shot import geojson_to_tile_df
    from geojson_vt_cpp_spark.operators.wrap import wrap_features
    from geojson_vt_cpp_spark.sources.documents import documents_from_fixture
    from tests.golden_utils import DATELINE_GEOJSON, load_fixture

    us = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    dl = documents_from_fixture(spark, DATELINE_GEOJSON, "dateline")
    opts = Options(index_max_zoom=4, index_max_points=100)
    rec = Recorder(type(us), out_dir)  # the session's concrete DataFrame class
    rec.install()

    def save(name: str, text: str) -> None:
        rel = os.path.join(rec.scenario, name)
        with open(os.path.join(out_dir, rel), "w") as f:
            f.write(text)
        rec.paths.append(rel)

    def finish(pyr) -> None:
        with rec.paused():
            save("registry.txt", registry_text(pyr))

    rec.start("build")
    pyr = TilePyramid.from_documents(us, opts)
    finish(pyr)
    rec.start("append")
    pyr.append(docs_df=dl)
    finish(pyr)
    pyr.close()

    rec.start("drill")
    pyr = TilePyramid.from_documents(us, Options())
    pyr.get_tile(7, 37, 48)
    pyr.get_tile(9, 148, 192)
    finish(pyr)
    pyr.close()

    rec.start("prewrap")
    tol = (opts.tolerance / opts.extent) / (1 << opts.max_zoom)
    feats = extract_features(us, tol)
    wrapped = wrap_features(feats, opts.buffer / opts.extent, opts.line_metrics)
    pyr = TilePyramid(wrapped, opts, pre_wrapped=True)
    finish(pyr)
    pyr.close()

    rec.start("oneshot")
    lines = []
    for name, docs, (z, x, y), wrap in [
        ("us-states", us, (12, 1171, 1566), False),
        ("dateline", dl, (1, 0, 0), True),
    ]:
        tile = geojson_to_tile_df(docs, z, x, y, wrap=wrap, clip=True)
        tile.count()
        with rec.paused():
            rows = sorted(
                json.dumps(r.asDict(recursive=True), sort_keys=True) for r in tile.collect()
            )
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        lines.append(f"{name} {z}/{x}/{y} wrap={wrap} rows {len(rows)} {digest}\n")
    save("rows.txt", "".join(lines))

    with open(os.path.join(out_dir, "digests.txt"), "w") as f:
        for rel in rec.paths:
            with open(os.path.join(out_dir, rel), "rb") as g:
                f.write(f"{hashlib.sha256(g.read()).hexdigest()}  {rel}\n")
    spark.stop()
    print(f"{len(rec.paths)} files in {out_dir}")


if __name__ == "__main__":
    main()
