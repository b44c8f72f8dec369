"""Per-layer metrics for a traced run.

Three sources: the wall-clock spans the benchmark records around each call,
Spark's event log (per job group: jobs, stages, tasks, executor time, GC,
shuffle writes, Python-worker metrics and join output rows), and serial
timings of the engine's geometry kernels without Spark.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np

# event-log accumulable name -> (metric, scale to the reported unit)
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "data sent to Python workers": ("py_bytes_sent", 1.0),
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
}

# join nodes whose output rows are reported, by a key column in the join
JOIN_ROWS = {
    "spatial_join.point_in_polygon_join": {"candidates": "cell#", "edge_pairs": "strip#"},
    "spatial_join.knn_join": {"candidates": "iy#"},
}


def _join_row_accumulators(plan: dict, keys: dict) -> dict:
    """{metric: [accumulator ids]} of 'number of output rows' on matching joins."""
    out: dict = {}

    def walk(n):
        if "Join" in n["nodeName"]:
            head = n["simpleString"].split("],")[0]
            for metric, col in keys.items():
                if col in head:
                    out.setdefault(metric, []).extend(
                        m["accumulatorId"] for m in n["metrics"]
                        if m["name"] == "number of output rows")
        for c in n["children"]:
            walk(c)

    walk(plan)
    return out


def parse_event_log(log_dir: str) -> dict:
    """{job group: {jobs, stages, tasks, <STAGE_METRICS>, join rows}}."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no Spark event log in {log_dir}")
    job_group, stage_jobs, stage_done = {}, {}, {}
    exec_group, plans = {}, {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[e["Job ID"]] = g
                for sid in e["Stage IDs"]:
                    stage_jobs.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_done[info["Stage ID"]] = info
            elif kind.endswith("SQLExecutionStart"):
                exec_group[e["executionId"]] = e.get("jobGroupId")
                plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e["sparkPlanInfo"]

    out: dict = {}
    for g in set(job_group.values()):
        if g is not None:
            out[g] = {"jobs": 0, "stages": 0, "tasks": 0,
                      **{m: 0.0 for m, _ in STAGE_METRICS.values()}}
    for g in job_group.values():
        if g is not None:
            out[g]["jobs"] += 1
    acc_max: dict = {}
    for sid, info in stage_done.items():
        g = stage_jobs.get(sid)
        for a in info.get("Accumulables", []):
            try:
                v = float(a.get("Value", 0))
            except (TypeError, ValueError):
                continue
            acc_max[a["ID"]] = max(acc_max.get(a["ID"], 0.0), v)
            if g is not None and a["Name"] in STAGE_METRICS:
                metric, scale = STAGE_METRICS[a["Name"]]
                out[g][metric] += v * scale
        if g is not None:
            out[g]["stages"] += 1
            out[g]["tasks"] += info["Number of Tasks"]
    for ex, g in exec_group.items():
        call = (g or "").removeprefix("t:").split("#")[0]
        if g in out and call in JOIN_ROWS:
            for metric, ids in _join_row_accumulators(plans[ex], JOIN_ROWS[call]).items():
                out[g][metric] = out[g].get(metric, 0) + sum(acc_max.get(i, 0) for i in ids)
    return out


def layer_metrics(spans: list[dict], groups: dict) -> dict:
    """Per-call medians of span time and of every event-log metric."""
    by_call: dict = {}
    for sp in spans:
        by_call.setdefault(sp["name"], []).append(sp)
    out = {}
    for call, sps in by_call.items():
        secs = [sp["end"] - sp["start"] for sp in sps]
        out[f"{call}.s"] = statistics.median(secs)
        # a group that ran no Spark job has no events: count zero
        per = [groups.get(sp["group"], {"jobs": 0, "stages": 0, "tasks": 0})
               for sp in sps]
        names = sorted({k for p in per for k in p})
        for name in names:
            out[f"{call}.{name}"] = statistics.median(p.get(name, 0) for p in per)
    return out


def kernel_timings(base_rows: list, tol: float, extent: int, n: int, seed: int,
                   passes: int = 5) -> dict:
    """Serial µs per feature of simplify_tag, clip_feature and
    transform_tile on a seeded sample of the corpus's features."""
    from geojson_vt_cpp_spark.functions import geojson_io as GJ
    from geojson_vt_cpp_spark.functions import kernels as K

    rng = np.random.default_rng(seed)
    picks = rng.choice(len(base_rows), min(n, len(base_rows)), replace=False)
    geoms = []
    for i in picks:
        text = next(sp[1] for sp in base_rows[i][1] if sp[0] == "geojson")
        geoms.extend(GJ.convert_geom(rf.geom, tol) for rf in GJ.parse_geojson(text))

    def simplify():
        parts = [g.pts[:, :].copy() for g in geoms]
        t0 = time.perf_counter()
        for g, pts in zip(geoms, parts):
            off = 0
            for m in g.part_lens:
                K.simplify_tag(pts[off:off + m], tol)
                off += m
        return time.perf_counter() - t0

    def clip():
        t0 = time.perf_counter()
        for g in geoms:
            x0, _, x1, _ = g.bbox()
            w = x1 - x0
            K.clip_feature(g, x0, x1, 0, x0 + w / 4, x1 - w / 4, False)
        return time.perf_counter() - t0

    def transform():
        t0 = time.perf_counter()
        for g in geoms:
            K.transform_tile(g, 1.0, 0, 0, extent, tol * (1 << 14), False)
        return time.perf_counter() - t0

    out = {}
    for name, fn in (("simplify_tag", simplify), ("clip_feature", clip),
                     ("transform_tile", transform)):
        out[f"kernels.{name}.us_per_feature"] = (
            statistics.median(fn() for _ in range(passes)) * 1e6 / len(geoms))
    return out
