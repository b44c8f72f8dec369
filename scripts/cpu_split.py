#!/usr/bin/env python3
"""Where the CPU of warm perfbench cycles goes, by process and JVM thread.

    python3 scripts/cpu_split.py --workload tiles --seed 3 --cycles 3

Starts one Spark session as ``perfbench/run.py`` starts one (same
environment, session settings, seeded inputs, set-ups and untimed warm-up
cycle) with Spark's event log on, then runs ``--cycles`` timed cycles of the
workload. Right around every engine call it reads the CPU time (user +
system) of every process of its own tree from /proc, and of every thread of
the JVM, and adds each call's deltas to these buckets:

  driver_python   this process, the PySpark driver
  python_workers  the Python worker daemon and its workers, reaped ones
                  included
  executor_tasks  JVM threads ``Executor task launch worker ...``
  py4j_server     JVM threads serving the driver's Py4J connections
                  (``Thread-N``); the analysis and planning of the driver's
                  queries run there
  gc              JVM garbage-collector threads (``GC Thread#N``, ``G1 ...``)
  jit             JVM JIT compiler threads (``C1/C2 CompilerThread``), which
                  perfbench's ``cycle_cpu_s`` leaves out
  other_jvm       every other JVM thread (scheduler, RPC, block manager, the
                  event-log listener) and threads that ended during a call

``total`` is the sum of every bucket but ``jit``, perfbench's
``cycle_cpu_s`` of the same calls. Python tasks are what a worker runs
between two of the daemon's per-task collects: a Spark task starts one per
Python node of its stage (counted from the event log, per job group, as
the distinct ``time to initialize Python workers`` metrics of each stage
times its tasks). CPU times come in clock ticks (10 ms at 100 Hz), and part
of each /proc read falls inside the window it bounds, so compare a
cycle's sums, not one short call. Prints one line per call (median over cycles of the
call's per-cycle sum) and one per bucket, then a JSON object with every
value. Writes only under ``.perfbench_work/`` and removes its run directory
at the end; nothing under ``perfbench/`` is changed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workload import _TICK, _stat  # noqa: E402

BUCKETS = ("driver_python", "python_workers", "executor_tasks", "py4j_server",
           "gc", "jit", "other_jvm")
_PY_NODE = "time to initialize Python workers"  # one per Python node


def _thread_bucket(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "executor_tasks"
    if comm.startswith("Thread-"):
        return "py4j_server"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if "CompilerThre" in comm:
        return "jit"
    return "other_jvm"


def snapshot() -> dict:
    """Cumulative CPU ticks: per process of this tree and per JVM thread."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _stat(f"/proc/{name}/stat")) is not None:
            stats[int(name)] = f
            children.setdefault(int(f[2]), []).append(int(name))
    me = os.getpid()
    procs, threads, todo = {}, {}, [me]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid not in stats:
            continue
        f = stats[pid]
        # fields after comm: state, ppid, ..., utime, stime, cutime, cstime
        kind = ("driver_python" if pid == me else
                "java" if f[0] == "java" else "python_workers")
        procs[pid] = (kind, sum(int(v) for v in f[12:16]))
        if kind == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None:
                    threads[(pid, int(tid))] = (_thread_bucket(t[0]),
                                                int(t[12]) + int(t[13]))
    return {"procs": procs, "threads": threads}


def split(a: dict, b: dict) -> dict:
    """CPU seconds per bucket between two snapshots."""
    out = dict.fromkeys(BUCKETS, 0)
    for pid, (kind, cpu) in b["procs"].items():
        delta = cpu - a["procs"].get(pid, (kind, 0))[1]
        if kind != "java":
            out[kind] += delta
            continue
        # a JVM's own ticks include its ended threads': what its live
        # threads do not account for went to threads that ended
        live = 0
        for key, (bucket, tcpu) in b["threads"].items():
            if key[0] == pid:
                d = tcpu - a["threads"].get(key, (bucket, 0))[1]
                out[bucket] += d
                live += d
        out["other_jvm"] += max(0, delta - live)
    return {k: v / _TICK for k, v in out.items()}


def python_tasks(log_dir: str) -> dict:
    """{job group: Python tasks, the tasks of each stage times its Python
    nodes}."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    stage_group, tasks = {}, {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif e["Event"] == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                nodes = {a["ID"] for a in info.get("Accumulables", [])
                         if a.get("Name") == _PY_NODE}
                if g is not None and nodes:
                    tasks[g] = tasks.get(g, 0) + len(nodes) * info["Number of Tasks"]
    return tasks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tiles", "joins"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cycles", type=int, default=3)
    args = ap.parse_args(argv)

    from perfbench import inputs as I
    from perfbench.run import pinned_digests, start_spark, stop_spark
    from perfbench.workload import Run

    # the environment perfbench/run.py gives its session
    workdir = os.path.join(ROOT, ".perfbench_work", f"cpu-split-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    cores = max(1, min(4, os.cpu_count() or 1))

    spark, _ = start_spark(workdir, cores, trace=True)
    cycles: list[dict] = []  # per cycle: {"calls": {name: [cpu]}, "buckets": {}}
    try:
        run = Run(spark, ROOT, workdir, args.workload, args.seed, I.FULL,
                  drill_untraced=False, traced_cycle=False)
        run.setup()
        run.warm_up()
        run.setup()
        run.setup()
        recorded = run.rec.call

        def call(name, fn, sample=None):
            def measured():
                a = snapshot()
                try:
                    return fn()
                finally:
                    s = split(a, snapshot())
                    cyc = cycles[-1]
                    cyc["calls"].setdefault(name, []).append(
                        sum(v for k, v in s.items() if k != "jit"))
                    for k, v in s.items():
                        cyc["buckets"][k] += v
            return recorded(name, measured, sample)

        run.rec.call = call
        pinned = pinned_digests(args.seed, False)
        for _ in range(args.cycles):
            cycles.append({"calls": {}, "buckets": dict.fromkeys(BUCKETS, 0.0)})
            run.cycle(pinned)
    finally:
        stop_spark(spark)
    tasks = python_tasks(os.path.join(workdir, "eventlog"))
    shutil.rmtree(workdir, ignore_errors=True)

    n = len(cycles)
    med = statistics.median
    calls = {}
    for name in cycles[0]["calls"]:
        calls[name] = {
            "cpu_s": med(sum(c["calls"][name]) for c in cycles),
            "calls": len(cycles[0]["calls"][name]),
            "python_tasks": sum(v for g, v in tasks.items()
                                if g.split("#")[0] == name) / n,
        }
    buckets = {k: med(c["buckets"][k] for c in cycles) for k in BUCKETS}
    total = [sum(v for k, v in c["buckets"].items() if k != "jit") for c in cycles]
    print(f"{args.workload} seed {args.seed}: {n} warm cycles, medians per cycle")
    for name, v in calls.items():
        print(f"  {name:36s} {v['cpu_s']:7.3f} CPU-s  {v['calls']:3d} calls"
              f"  {v['python_tasks']:5.1f} Python tasks")
    for k, v in buckets.items():
        print(f"  {k:36s} {v:7.3f} CPU-s")
    print(f"  {'total (jit left out)':36s} {med(total):7.3f} CPU-s  "
          f"{sum(tasks.values()) / n:5.1f} Python tasks")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cycles": n,
        "failed": len(run.failures), "calls": calls, "buckets": buckets,
        "total_cpu_s": total, "python_tasks_per_cycle": sum(tasks.values()) / n,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
