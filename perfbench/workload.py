"""One benchmark run: set-up, warm-up with the output checks, the timed
closed loop, and an optional traced cycle.

A workload repeats one family of engine calls, one call at a time (a closed
loop with one client):

``tiles``, tile build and serving:
  pyramid.from_documents TilePyramid.from_documents + tile_features().count()
  pyramid.append         TilePyramid.append of one batch of new documents
  pyramid.enable_serving snapshot export
  pyramid.get_tile_warm  get_tile on every registered tile once, in seeded
                         order (snapshot probe; a repeat would hit the
                         pyramid's in-memory tile cache instead)
  tile_one_shot.geojson_to_tile_df(...).count()

``joins``, spatial joins on polygons converted during set-up:
  spatial_join.point_in_polygon_join(...).count()
  spatial_join.knn_join(...).count()

Each timed call runs under its own Spark job group, so its job and stage
counts can be read back, and the CPU seconds it costs are read from /proc
(``tree_cpu_s``). The untimed warm-up runs every call of the workload and
checks the outputs against independent references; the timed cycles then
check their outputs against the warm-up's, and every append against a
build over base + batch made at the end. A traced cycle runs
both families, so that every layer is measured whatever the workload, adds
a cold get_tile drill (``pyramid.get_tile_cold``), splits the build into its
layers (convert, wrap, ``pyramid.build`` = ``TilePyramid(pre_wrapped=True)``,
``pyramid.tile_features``) and times the harness's own checks apart, so they
count neither as engine time nor as unattributed time.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.inputs import DOCS_SCHEMA, Sizes, make_inputs

INDEX_MAX_ZOOM = 2
INDEX_MAX_POINTS = 1_000
K = 5            # neighbours per kNN query
DRILL_DEPTH = 2  # levels below a sourced leaf a cold get_tile reaches

# the calls of each workload, by name prefix
WORKLOADS = {
    "tiles": ("convert.", "wrap.", "pyramid.", "tile_one_shot."),
    "joins": ("spatial_join.",),
}


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name."""
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:  # the process or thread ended meanwhile
        return None
    return [head.split("(", 1)[1]] + tail.split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with those of reaped children) of this
    process and of every process descended from it: the driver, the Spark
    JVM and its Python workers, less the JVM's JIT compiler threads, whose
    work fades as the run warms up. Unlike wall time, this does not grow
    while a shared host holds the machine's CPUs back."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _stat(f"/proc/{name}/stat")) is not None:
            stats[int(name)] = f
            children.setdefault(int(f[2]), []).append(int(name))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid not in stats:
            continue
        # fields: comm, state, ppid, ..., utime, stime, cutime, cstime
        total += sum(int(v) for v in stats[pid][12:16])
        if stats[pid][0] == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None and "CompilerThre" in t[0]:
                    total -= int(t[12]) + int(t[13])
    return total / _TICK


class Recorder:
    """Times engine calls, tags them with job groups, keeps spans."""

    def __init__(self, sc, workload: str, seed: int):
        self.sc = sc
        self.workload = workload
        self.seed = seed
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, list[tuple[int, int]]] = {}
        self.spans: list[dict] = []
        self.traced = False
        self.busy = 0.0  # seconds inside untraced calls
        self.busy_cpu = 0.0  # CPU seconds of the same
        self._seq = 0

    def call(self, name: str, fn, sample: str | None = None):
        self._seq += 1
        group = f"{'t:' if self.traced else ''}{name}#{self._seq}"
        self.sc.setJobGroup(group, name)
        c0 = 0.0 if self.traced else tree_cpu_s()
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            c1 = 0.0 if self.traced else tree_cpu_s()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.traced:
                self.spans.append({
                    "name": name, "group": group, "start": t0, "end": t1,
                    "parent": "cycle", "workload": self.workload, "seed": self.seed,
                })
            else:
                self.busy += t1 - t0
                self.busy_cpu += c1 - c0
                if sample:
                    self.samples.setdefault(sample, []).append(t1 - t0)
                tracker = self.sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(group)
                infos = [tracker.getJobInfo(j) for j in jobs]
                stages = sum(len(i.stageIds) for i in infos if i is not None)
                self.counts.setdefault(name, []).append((len(jobs), stages))


def _unrecorded(name, fn, sample=None):
    return fn()


def _pyramid_keys(pyr) -> tuple[list, list]:
    """(every registered key, sourced non-empty leaves), both sorted."""
    keys = sorted(pyr.meta.keys())
    leaves = sorted(k for k, m in pyr.meta.items() if m.rows > 0 and m.has_source)
    return keys, leaves


class Run:
    def __init__(self, spark, root: str, workdir: str, workload: str, seed: int,
                 sizes: Sizes, drill_untraced: bool, traced_cycle: bool):
        from geojson_vt_cpp_spark.config import Options

        self.spark = spark
        self.sc = spark.sparkContext
        self.root = root
        self.workdir = workdir
        self.workload = workload
        self.seed = seed
        self.sizes = sizes
        self.opts = Options(index_max_zoom=INDEX_MAX_ZOOM,
                            index_max_points=INDEX_MAX_POINTS, max_zoom=14)
        self.tol = (self.opts.tolerance / self.opts.extent) / (1 << self.opts.max_zoom)
        self.rec = Recorder(self.sc, workload, seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.ref: dict = {}
        self.digests: dict = {}
        self.layer_counters: dict = {}
        self.cycle_busy: list[float] = []  # untraced, inside engine calls only
        self.cycle_cpu: list[float] = []  # CPU seconds of the same
        self.harness_s = 0.0  # checks, digests and counters in the last cycle
        # cold drills run in traced cycles, and in untraced ones on request
        self.drill_untraced = drill_untraced
        # a traced cycle runs the calls of every workload
        self.families = tuple(WORKLOADS) if traced_cycle else (workload,)
        self._cached: list = []
        self._exports = 0
        self._layers: tuple = ()  # the traced build's materialized layers
        self._appended: list = []  # (digest, total, stats) after each append

    # ------------------------------------------------------------ set-up

    def setup(self) -> tuple[float, float]:
        """Generate the seeded inputs and materialize the ones the run's
        calls read in Spark. Returns (wall, CPU) seconds."""
        from geojson_vt_cpp_spark.operators.convert import extract_features

        t0, c0 = time.perf_counter(), tree_cpu_s()
        for df in self._cached:
            df.unpersist()
        inp = make_inputs(self.root, self.seed, self.sizes)
        sp = self.spark
        self.inputs = inp
        self._cached = []
        if "tiles" in self.families:
            self.base = sp.createDataFrame(inp.base_rows, DOCS_SCHEMA).cache()
            self.batch = sp.createDataFrame(inp.batch_rows, DOCS_SCHEMA).cache()
            self._cached += [self.base, self.batch]
        if "joins" in self.families:
            # converted here, so the timed joins never run the conversion
            poly_docs = sp.createDataFrame(inp.base_rows, DOCS_SCHEMA)
            self.polys = extract_features(poly_docs, self.tol).cache()
            self.points = sp.createDataFrame(pd.DataFrame({
                "point_id": inp.points[:, 0].astype(np.int64),
                "px": inp.points[:, 1], "py": inp.points[:, 2]})).cache()
            self.sites = sp.createDataFrame(pd.DataFrame({
                "site_id": inp.sites[:, 0].astype(np.int64),
                "sx": inp.sites[:, 1], "sy": inp.sites[:, 2]})).cache()
            self._cached += [self.polys, self.points, self.sites]
        for df in self._cached:
            df.count()
        return time.perf_counter() - t0, tree_cpu_s() - c0

    # ------------------------------------------------------- engine calls

    @contextlib.contextmanager
    def _harness(self):
        """Time the benchmark's own work inside a cycle."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.harness_s += time.perf_counter() - t0

    def _check(self, problems: list[str]) -> None:
        self.attempted += 1
        self.failures.extend(problems)

    def _knn(self):
        from geojson_vt_cpp_spark.operators.spatial_join import knn_join

        return knn_join(self.points, self.sites, k=K,
                        res=self.inputs.knn_res, ring=2,
                        query_cols=("point_id", "px", "py"),
                        site_cols=("site_id", "sx", "sy"))

    def _pip(self):
        from geojson_vt_cpp_spark.operators.spatial_join import point_in_polygon_join

        return point_in_polygon_join(self.points, self.polys, broadcast_edges=False)

    def _build(self, call, docs=None):
        """Build and quantize a pyramid; in a traced cycle, in its four
        layers, each materialized."""
        from geojson_vt_cpp_spark.operators.pyramid import TilePyramid

        docs = self.base if docs is None else docs
        layered = self.rec.traced and call is not _unrecorded
        if not layered:
            box = {}

            def build():
                box["p"] = TilePyramid.from_documents(docs, self.opts)
                return box["p"].tile_features().count()

            self._tf_rows = call("pyramid.from_documents", build, sample="build_s")
            return box["p"]
        from geojson_vt_cpp_spark.operators.convert import extract_features
        from geojson_vt_cpp_spark.operators.wrap import wrap_features

        o = self.opts
        n_parts = max(self.sc.defaultParallelism * 2, 8)
        feats = call("convert.extract_features", lambda: extract_features(
            docs, self.tol).repartition(n_parts).localCheckpoint())
        wrapped = call("wrap.wrap_features", lambda: wrap_features(
            feats, o.buffer / o.extent, o.line_metrics,
            max_kernel_parts=n_parts).localCheckpoint())
        pyr = call("pyramid.build", lambda: TilePyramid(wrapped, o, pre_wrapped=True))
        self._tf_rows = call("pyramid.tile_features",
                             lambda: pyr.tile_features().count())
        self._layers = (feats, wrapped)
        return pyr

    def layer_row_counts(self) -> None:
        """Rows out of the traced build's convert and wrap layers, counted
        after the traced cycle."""
        feats, wrapped = self._layers
        self.layer_counters.update({
            "convert.extract_features.rows_out": feats.count(),
            "wrap.wrap_features.rows_out": wrapped.count()})

    def _export(self, call, pyr) -> str:
        self._exports += 1
        path = os.path.join(self.workdir, f"serve-{self._exports}")
        call("pyramid.enable_serving", lambda: pyr.enable_serving(path),
             sample="export_s")
        return path

    def _drill_target(self, pyr, leaves: list) -> tuple[int, int, int]:
        """A seeded sourced leaf's descendant DRILL_DEPTH levels down that
        holds the leaf's first feature's first in-tile vertex."""
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.inputs.rng_seed)
        d, extent = DRILL_DEPTH, self.opts.extent
        tf = pyr.tile_features()
        for i in rng.permutation(len(leaves)):
            z, x, y = leaves[i]
            rows = tf.where((F.col("z") == z) & (F.col("tx") == x) & (F.col("ty") == y)
                            & (F.col("out_type") >= 0)).select("part_xs", "part_ys").take(1)
            inside = [(px, py) for r in rows for xs, ys in zip(r[0], r[1])
                      for px, py in zip(xs, ys) if 0 <= px < extent and 0 <= py < extent]
            if inside:
                cx, cy = (v * (1 << d) // extent for v in inside[0])
                return z + d, (x << d) + cx, (y << d) + cy
        raise RuntimeError("no sourced leaf has an in-tile vertex to drill below")

    # ------------------------------------------------------------ warm-up

    def check_appends(self) -> None:
        """Every appended pyramid against a full build over base + batch,
        made once, untimed, after the timed cycles (where it runs warm)."""
        if not self._appended:
            return
        rebuilt = self._build(_unrecorded, self.base.unionByName(self.batch))
        ref = (checks.tile_digest(rebuilt.tile_features()), rebuilt.total,
               dict(rebuilt.stats))
        self._check(checks.pyramid_invariants(rebuilt, INDEX_MAX_ZOOM))
        rebuilt.close()
        for got in self._appended:
            self._check([] if got == ref else
                        ["append differs from a build over base + batch"])

    def _warm_pip(self) -> dict:
        inp = self.inputs
        rows = self._pip().select("point_id", "doc_id", "span_idx", "feature_idx",
                                  "member_seq").collect()
        rng = np.random.default_rng(inp.rng_seed + 1)
        sample = inp.points[rng.choice(len(inp.points), min(300, len(inp.points)),
                                       replace=False)]
        ids = {int(v) for v in sample[:, 0]}
        got = [(r[0], tuple(r[1:])) for r in rows if r[0] in ids]
        self._check(checks.pip(got, sample, checks.polygon_table(self.polys)))
        return {"pip": len(rows)}

    def _warm_knn(self) -> dict:
        rows = self._knn().select("point_id", "site_id").collect()
        self._check(checks.knn(rows, self.inputs.points, self.inputs.sites, K))
        return {"knn": len(rows)}

    def warm_up(self) -> None:
        """Untimed passes over the calls (JIT, codegen, Python workers): for
        the joins, the checks that need an independent reference first;
        then one whole untimed cycle, whose outputs are checked as the
        timed cycles' are, as one pass leaves the calls cold."""
        self.warm_parts_s = {}

        def timed(fn, *args):
            t0 = time.perf_counter()
            out = fn(*args)
            self.warm_parts_s[fn.__name__] = time.perf_counter() - t0
            return out

        if "tiles" in self.families:
            timed(self._tiles, _unrecorded, None)
        if "joins" in self.families:
            self.ref.update(timed(self._warm_pip))
            self.ref.update(timed(self._warm_knn))
            timed(self._joins, _unrecorded)

    # -------------------------------------------------------------- cycle

    def cycle(self, pinned: dict | None) -> float:
        """The timed closed loop's unit of work: one pass over the
        workload's calls (over every workload's calls when traced),
        checked against the warm-up's references and the pinned digests of
        this seed, when there are any (appends in ``check_appends``). Returns the cycle's wall time; the
        part spent in the benchmark's own checks is left in ``harness_s``."""
        t_start, busy, cpu = time.perf_counter(), self.rec.busy, self.rec.busy_cpu
        self.harness_s = 0.0
        cold_s = 0.0
        families = self.families if self.rec.traced else (self.workload,)
        if "tiles" in families:
            cold_s = self._tiles(self.rec.call, pinned)
        if "joins" in families:
            self._joins(self.rec.call)
        if not self.rec.traced:
            self.cycle_busy.append(self.rec.busy - busy - cold_s)
            self.cycle_cpu.append(self.rec.busy_cpu - cpu)
        return time.perf_counter() - t_start

    def _tiles(self, call, pinned: dict | None) -> float:
        """Build, append, export, warm reads, a cold read when asked for,
        one-shot tiles. Returns the cold read's seconds."""
        from geojson_vt_cpp_spark.operators.tile_one_shot import geojson_to_tile_df

        inp, ref = self.inputs, self.ref
        pyr = self._build(call)
        with self._harness():
            self.digests = {"build": checks.tile_digest(pyr.tile_features())}
            self._check(checks.pyramid_invariants(pyr, INDEX_MAX_ZOOM))
            self.layer_counters.update({
                "pyramid.build.levels": len(pyr.stats),
                "pyramid.build.tiles_registered": pyr.total,
                "pyramid.tile_features.rows_out": self._tf_rows})

        call("pyramid.append", lambda: pyr.append(docs_df=self.batch),
             sample="append_s")
        path = self._export(call, pyr)
        with self._harness():
            self.layer_counters["pyramid.enable_serving.files"] = sum(
                f.endswith(".parquet") for f in os.listdir(path))
            tf = pyr.tile_features()
            self.digests["append"] = checks.tile_digest(tf)
            self._appended.append((self.digests["append"], pyr.total, dict(pyr.stats)))
            self._check(checks.pyramid_invariants(pyr, INDEX_MAX_ZOOM))
            for kind, digest in (pinned or {}).items():
                self._check([] if tuple(digest) == self.digests[kind] else
                            [f"{kind} digest differs from the pinned digest"])
            expected = checks.tile_rows_by_key(tf)
            keys, leaves = _pyramid_keys(pyr)

        # warm reads: every registered key once, in seeded order
        for i in np.random.default_rng(inp.rng_seed).permutation(len(keys)):
            key = keys[i]
            tile = call("pyramid.get_tile_warm", lambda: pyr.get_tile(*key),
                        sample="warm_tile_ms")
            with self._harness():
                self._check(checks.warm_tile(tile, expected.get(key, [])))

        # a cold read: a drill below a sourced leaf
        cold_s = 0.0
        if self.rec.traced or self.drill_untraced:
            with self._harness():
                target = self._drill_target(pyr, leaves)
                before = len(pyr.drill_log)
            t0 = time.perf_counter()
            tile = call("pyramid.get_tile_cold", lambda: pyr.get_tile(*target),
                        sample="cold_tile_s")
            cold_s = time.perf_counter() - t0
            with self._harness():
                self.layer_counters["pyramid.get_tile_cold.drill_rounds"] = (
                    len(pyr.drill_log) - before)
                self._check([] if (tile.z, tile.x, tile.y) == target and tile.features
                            else [f"cold get_tile {target} answered {tile.z}/{tile.x}/"
                                  f"{tile.y} with {len(tile.features)} features"])
        pyr.close()

        got = [call("tile_one_shot.geojson_to_tile_df", lambda: geojson_to_tile_df(
            self.base, z, x, y, wrap=False, clip=True).count(), sample="one_shot_ms")
            for z, x, y in inp.one_shot_tiles]
        if "one_shot" not in ref:  # the warm-up's pass: tiles hold a corpus vertex
            ref["one_shot"] = got
            self._check([] if all(got) else ["a one-shot tile is empty"])
        self._check([] if got == ref["one_shot"] else ["one-shot row counts differ"])
        return cold_s

    def _joins(self, call) -> None:
        self.pip_rows = call("spatial_join.point_in_polygon_join",
                             lambda: self._pip().count(), sample="pip_s")
        self._check([] if self.pip_rows == self.ref["pip"] else ["pip row count differs"])
        n = call("spatial_join.knn_join", lambda: self._knn().count(), sample="knn_s")
        self._check([] if n == self.ref["knn"] else ["knn row count differs"])

    def exact_counts(self) -> dict:
        """{call: sorted distinct (jobs, stages)} over every timed call."""
        counts = {k: sorted(set(v)) for k, v in self.rec.counts.items()}
        warm = counts.get("pyramid.get_tile_warm", [(0, 0)])
        if warm != [(0, 0)]:
            self.failures.append(f"warm get_tile ran Spark jobs: {warm}")
        return counts


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float | None:
    """The q-quantile, or None when fewer than ten samples lie beyond it."""
    if len(xs) * (1.0 - q) < 10:
        return None
    return float(np.quantile(xs, q))
