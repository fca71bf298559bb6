#!/usr/bin/env python3
"""Split the CPU of a perfbench workload's calls by process and by JVM
thread class.

Loads one perfbench workload (``perfbench/workloads.py``, imported, not
changed), warms it up as perfbench's set-up does, then runs ``--calls``
warm calls and prints the CPU seconds each part of the process tree used
over them, read from /proc before and after:

- processes: this driver (Python), the JVM, and the Python workers
  (every process below the JVM, plus the children the JVM reaped);
- the JVM's threads by class, from /proc/<jvm>/task/*/stat: the JIT
  compilers, GC (with the VM thread, which runs its safepoint
  operations), executor task threads, planning threads (py4j's gateway
  threads, where the driver's DataFrame calls are analysed and
  planned, and AQE's query-stage threads), the scheduler (DAG scheduler, RPC dispatchers, listener
  bus, result getters, heartbeats) and the rest. Threads that exit
  during the calls are counted as ``exited``: the JVM's total less its
  live threads.

Usage: python3 tools/cpu_split.py [--workload NAME] [--calls N] [--seed S] [--size full|smoke]

The session runs in the environment perfbench/run.py pins (two task
slots, a 2g heap, local and temp dirs under .perfbench_run/). Prints a
table, then one JSON object: ``calls``, ``process`` and ``jvm_threads``
(CPU seconds per call), and ``other_threads`` (the busiest thread names
in the 'other' class, for extending THREAD_CLASSES).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

# JVM thread-name prefixes per class, first match wins (/proc truncates
# a thread name to 15 characters)
THREAD_CLASSES = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("executor", ("Executor task l",)),
    ("planning", ("Thread-", "ResultQueryStag")),
    ("scheduler", (
        "dag-scheduler", "dispatcher-", "spark-listener", "task-result-get",
        "executor-heartb", "driver-heartbea", "Spark Context", "rpc-", "netty-rpc",
        "shuffle-", "block-manager", "RemoteBlock", "element-trackin", "context-cleane",
    )),
)


def _stat(path: str) -> "tuple[str, list]":
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def thread_class(name: str) -> str:
    for cls, prefixes in THREAD_CLASSES:
        if name.startswith(prefixes):
            return cls
    return "other"


def snapshot(root: int) -> dict:
    """Clock ticks so far, keyed ('driver', pid), ('jvm', pid),
    ('jvm-children', pid), ('worker', pid) and ('thread', tid, name)."""
    from tracing import descendants

    ticks = {}
    _, f = _stat(f"/proc/{root}/stat")
    ticks[("driver", root)] = int(f[11]) + int(f[12])  # utime stime
    for pid in descendants(root):
        try:
            name, f = _stat(f"/proc/{pid}/stat")
        except OSError:
            continue
        if name != "java":
            continue
        ticks[("jvm", pid)] = int(f[11]) + int(f[12])
        ticks[("jvm-children", pid)] = int(f[13]) + int(f[14])  # cutime cstime
        for w in descendants(pid):
            try:
                _, wf = _stat(f"/proc/{w}/stat")
            except OSError:
                continue
            ticks[("worker", w)] = sum(int(v) for v in wf[11:15])
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                tname, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            ticks[("thread", int(tid), tname)] = int(tf[11]) + int(tf[12])
    return ticks


def split(before: dict, after: dict, calls: int) -> dict:
    """CPU seconds per call by process and by JVM thread class, from two
    snapshots. A process or thread gone by ``after`` is not counted
    (a Python worker's CPU stays counted through the daemon that reaped
    it; an exited JVM thread's through the JVM total)."""
    hz = os.sysconf("SC_CLK_TCK")
    delta = {k: (v - before.get(k, 0)) / hz / calls for k, v in after.items()}
    process = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    threads = {cls: 0.0 for cls, _ in THREAD_CLASSES}
    threads.update(other=0.0, exited=0.0)
    other: dict = {}
    for key, cpu in delta.items():
        kind = key[0]
        if kind in ("driver", "jvm"):
            process[kind] += cpu
        elif kind in ("worker", "jvm-children"):
            process["workers"] += cpu
        else:
            cls = thread_class(key[2])
            threads[cls] += cpu
            if cls == "other":
                other[key[2]] = other.get(key[2], 0.0) + cpu
    threads["exited"] = max(0.0, process["jvm"] - sum(threads.values()))
    top = dict(sorted(other.items(), key=lambda kv: -kv[1])[:8])
    return dict(calls=calls, process=process, jvm_threads=threads, other_threads=top)


def measure(spark, workload: str, calls: int, size: str = "full", seed: int = 1) -> dict:
    """Load ``workload`` on ``spark``, warm it up as perfbench's first
    set-up repetition does, and split the CPU of ``calls`` more calls."""
    import main as bench
    import workloads
    from pyspark.sql import DataFrame
    from tracing import Tracer

    wl = workloads.WORKLOADS[workload](size)
    off = Tracer(spark, wl.name, False)
    with tempfile.TemporaryDirectory(prefix="cpu-split-") as workdir:
        state = wl.load(spark, wl.make_inputs(seed, workdir))
        try:
            bench.warm_up(wl, state, off, bench.WARMUP_MAX)
            me = os.getpid()
            before = snapshot(me)
            for i in range(calls):
                wl.call(state, i, off)
            out = split(before, snapshot(me), calls)
        finally:
            for v in state.values():
                if isinstance(v, DataFrame) and v.is_cached:
                    v.unpersist()
    out["workload"] = workload
    return out


def report(out: dict) -> str:
    lines = [f"{out['workload']}: CPU-s per call over {out['calls']} warm calls"]
    for title, part in (("process", out["process"]), ("jvm thread", out["jvm_threads"])):
        total = sum(part.values())
        for name, cpu in sorted(part.items(), key=lambda kv: -kv[1]):
            share = cpu / total if total else 0.0
            lines.append(f"  {title:<10} {name:<10} {cpu:8.3f}  {share:6.1%}")
    return "\n".join(lines)


def main() -> None:
    import run as launcher
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="grid_euclid", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--calls", type=int, default=15)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    if args.calls < 1:
        ap.error("--calls must be >= 1")

    run_dir = os.path.join(ROOT, ".perfbench_run")
    local_dir = os.path.join(run_dir, f"local-{os.getpid()}")
    os.makedirs(local_dir, exist_ok=True)
    os.environ.update(launcher.pinned_env(run_dir, local_dir))
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.session import get_spark

    spark = get_spark("cpu-split")
    try:
        out = measure(spark, args.workload, args.calls, args.size, args.seed)
    finally:
        spark.stop()
        shutil.rmtree(local_dir, ignore_errors=True)
    print(report(out))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
