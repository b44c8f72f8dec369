#!/usr/bin/env python3
"""Benchmark of the geojson_vt_cpp_spark engine, run from the repository root:

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 10 --trace 0

One Spark driver (local[k], k <= nproc) and one closed-loop client. The run
sets up its seeded inputs three times (``setup_s`` is the median), warms
every call of the workload untimed while checking its outputs, then repeats
the workload's cycle of engine calls (``perfbench/workload.py``) at least
twice and until ``--seconds`` have passed, checking every output.
``--trace 1`` adds one traced cycle over the calls of both workloads and
reports per-layer metrics instead of end-to-end ones (the end-to-end values
of its untraced cycles go to ``info.end_to_end``). ``--smoke`` runs tiny
inputs through every call, check and the event-log parser.

Earlier stdout lines describe the run (machine, versions, sample counts,
exact job/stage counts, spans); the last line is the result object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_CYCLES = 2  # untraced timed cycles, whatever --seconds says


def machine() -> dict:
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": os.cpu_count(), "mem_gb": round(mem / 2**30, 2),
            "python": platform.python_version()}


def source_id() -> dict:
    """Commit sha when the checkout is a git tree, and always a digest of
    the engine's sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "geojson_vt_cpp_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"commit": sha, "engine_sha256": h.hexdigest()[:16]}


def start_spark(workdir: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = int(min(8192, max(1024, mem / 4 / 2**20)))
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{heap_mb}m")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.default.parallelism", str(cores))
         # adaptive execution re-plans each query from runtime statistics,
         # which adds jobs and lets stage counts differ from run to run
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, heap_mb


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def pinned_digests(seed: int, smoke: bool) -> dict | None:
    """Tile digests pinned for this seed's inputs, if any."""
    with open(os.path.join(HERE, "pinned.json")) as fh:
        table = json.load(fh)
    return table.get(f"{'smoke:' if smoke else ''}{seed}")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tiles", "joins"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one timed cycle")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geojson_vt_cpp_spark")) or not \
            os.path.isfile(os.path.join(ROOT, I.FIXTURE)):
        print("perfbench: the engine package or its fixture is missing under "
              f"{ROOT}", file=sys.stderr)
        return 2

    from perfbench import trace as T
    from perfbench.workload import WORKLOADS, Run, median, percentile

    sizes = I.SMOKE if args.smoke else I.FULL
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, "seconds": args.seconds, **machine(),
            **source_id(), "loadavg_start": os.getloadavg()[0]}
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (launcher and driver) keeps its temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        # compiler threads live as long as the JVM, so their CPU time can be
        # told apart from the program's (see workload.tree_cpu_s)
        "-XX:-UseDynamicNumberOfCompilerThreads")
    cores = max(1, min(4, os.cpu_count() or 1))
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark, heap_mb = start_spark(workdir, cores, trace)
    spark_start_s = time.perf_counter() - t0
    try:
        import pyspark

        info.update({"spark": pyspark.__version__, "local_cores": cores,
                     "driver_heap_mb": heap_mb})
        run = Run(spark, ROOT, workdir, args.workload, args.seed, sizes,
                  drill_untraced=args.smoke, traced_cycle=trace)
        setups = [run.setup()]
        t0 = time.perf_counter()
        run.warm_up()
        warmup_s = time.perf_counter() - t0
        setups += [run.setup() for _ in range(2)]

        pinned = pinned_digests(args.seed, args.smoke)
        # closed loop: the least number of cycles, then more until
        # --seconds have passed (a traced run reports no end-to-end metric,
        # so one cycle is its least)
        min_cycles = 1 if args.smoke or trace else MIN_CYCLES
        t_end = time.perf_counter() + args.seconds
        cycles = 0
        while cycles < min_cycles or (not args.smoke and time.perf_counter() < t_end):
            run.cycle(pinned)
            cycles += 1

        if trace:
            run.rec.traced = True
            traced_s = run.cycle(pinned)
            run.layer_row_counts()
        run.check_appends()
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    smp = run.rec.samples
    info.update({
        "loadavg_end": os.getloadavg()[0], "spark_start_s": spark_start_s,
        "setup_wall_cpu_s_each": setups, "warmup_s": warmup_s,
        "cycle_cpu_s": run.cycle_cpu,
        "warmup_parts_s": run.warm_parts_s, "cycles": cycles,
        "cycle_wall_s": run.cycle_busy, "knn_res": run.inputs.knn_res,
        "samples": {k: len(v) for k, v in smp.items()},
        "exact_counts": run.exact_counts(),
        "digests": {k: list(v) for k, v in run.digests.items()},
    })
    # exact job/stage counts must repeat from call to call; report any that
    # do not instead of averaging them
    info["unstable_counts"] = [k for k, v in info["exact_counts"].items()
                               if len(v) > 1]

    # CPU seconds, not wall seconds: on a shared host the wall time of the
    # same run swings by up to 2x with the neighbours' load (see README)
    e2e = {
        "setup_s": metric(median([c for _, c in setups]), "s"),
        "cycle_cpu_s": metric(median(run.cycle_cpu), "s"),
    }
    # wall times, unbounded: the set-up, the cycle and every call's median
    # latency over the untraced cycles; the pyramid registers too few tiles
    # for a warm p90 (see README)
    unbounded = {"peak_rss_mb": peak_rss_mb,
                 "setup_wall_s": median([w for w, _ in setups]),
                 "cycle_wall_s": median(run.cycle_busy)}
    for name, scale in (("build_s", 1), ("append_s", 1), ("export_s", 1),
                        ("one_shot_ms", 1e3), ("pip_s", 1), ("knn_s", 1)):
        if name in smp:
            unbounded[name] = median(smp[name]) * scale
    if "warm_tile_ms" in smp:
        p50 = percentile(smp["warm_tile_ms"], 0.5)
        unbounded["warm_tile_ms_p50"] = None if p50 is None else p50 * 1e3
    info["unbounded"] = unbounded
    if trace:
        info["end_to_end"] = e2e
        groups = T.parse_event_log(os.path.join(workdir, "eventlog"))
        spans = run.rec.spans
        m = T.layer_metrics(spans, groups)
        m.update(T.kernel_timings(run.inputs.base_rows, run.tol, run.opts.extent,
                                  n=60, seed=args.seed))
        m.update(run.layer_counters)
        m["pyramid.get_tile_warm.ms"] = m.pop("pyramid.get_tile_warm.s") * 1e3
        m["tile_one_shot.geojson_to_tile_df.ms"] = (
            m.pop("tile_one_shot.geojson_to_tile_df.s") * 1e3)
        pip = "spatial_join.point_in_polygon_join"
        if m.get(f"{pip}.candidates"):
            m[f"{pip}.hit_ratio"] = run.pip_rows / m[f"{pip}.candidates"]
        # cycle wall outside every engine call and every harness check
        span_s = [sp["end"] - sp["start"] for sp in spans]
        m["run.unattributed_s"] = traced_s - run.harness_s - sum(span_s)
        m["run.harness_s"] = run.harness_s
        # engine-call wall time of the workload's own calls in the traced
        # cycle (drill left out, as untraced cycles run none) minus that of
        # an untraced cycle
        own = WORKLOADS[args.workload]
        m["run.tracing_overhead_s"] = sum(
            v for sp, v in zip(spans, span_s)
            if sp["name"].startswith(own) and sp["name"] != "pyramid.get_tile_cold"
        ) - median(run.cycle_busy)
        m["run.spark_start_s"] = spark_start_s
        m["run.warmup_s"] = warmup_s
        info["layers"] = m
        units = per_layer_units()
        metrics = {k: metric(float(v), units[k]) for k, v in sorted(m.items())
                   if k in units}
        missing = sorted(set(units) - set(metrics))
        if missing:
            run.failures.append(f"per-layer metrics not measured: {missing}")
        info["spans"] = [{**sp, "start": sp["start"] - spans[0]["start"],
                          "end": sp["end"] - spans[0]["start"]} for sp in spans]
    else:
        metrics = e2e
    info["failures"] = run.failures[:20]
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"info": info}))
    failed = len(run.failures)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def per_layer_units() -> dict:
    """{name: unit} of the per-layer metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
