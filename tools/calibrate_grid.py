#!/usr/bin/env python3
"""Measure the block grid's cost model (operators/pairscan.py).

- ``_PY_TASK_CPU_S``: the fixed CPU of one Python task, taken as the
  least-squares slope of Python-worker CPU seconds over 1, 2 and 4 trivial
  ``applyInPandas`` tasks (each task one group that returns its input).
  Worker CPU is read from /proc for the PySpark daemon's process tree, so
  it counts only the Python workers, not the JVM or this driver.
- ``_CPU_S_PER_UNIT``: each scoring family's CPU seconds per work unit
  (``pairscan._work_units``), timed in-process with ``time.process_time``
  on seeded random walks: the KNN scoring core ``_score_block_rows`` for
  the time-series families, the ANN scorers for the embedding ones.

Usage: python3 tools/calibrate_grid.py [--scale S] [--reps N]

Prints one JSON object: ``py_task_cpu_s`` (the slope), ``task_cpu_s``
(the median worker CPU per call at each task count), ``cpu_s_per_unit``
(the measured coefficients) and ``current`` (the constants in
pairscan.py, for comparison). ``--scale`` shrinks the pair counts (a
small value gives a quick smoke run; its coefficients are noisier).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
if __name__ == "__main__":
    # a Python worker runs single-threaded BLAS (Spark sets OMP_NUM_THREADS
    # to spark.task.cpus); time the scoring the same way
    os.environ.setdefault("OMP_NUM_THREADS", "1")

import numpy as np  # noqa: E402

# (family, kind, query rows, candidate rows, length, options) at scale 1
FAMILIES = [
    ("gram", "euclidean", 1000, 3000, 128, {}),
    ("point", "manhattan", 200, 1000, 128, {}),
    ("sbd", "sbd", 200, 1000, 128, {}),
    ("dtw", "dtw", 64, 64, 561, {"band": 3}),
    ("fastdtw", "fastdtw", 32, 32, 561, {"radius": 1}),
    ("edit", "twed", 64, 64, 64, {}),
    ("ann_brute", "ann_brute", 1000, 2000, 64, {}),
    ("ann_quantized", "ann_quantized", 1000, 2000, 64, {}),
]


def _daemon_cpu_s() -> float:
    """CPU seconds of every PySpark daemon tree below this process (the
    daemon plus the workers it forked, reaped ones included)."""
    from tracing import descendants, tree_cpu_s

    total = 0.0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{ppid}/cmdline", "rb") as f:
                parent = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd and b"pyspark.daemon" not in parent:
            total += tree_cpu_s(pid)
    return total


def _one_key_per_partition(spark, n: int) -> list:
    """n ids that hash to n distinct partitions under repartition(n, id)."""
    from pyspark.sql import functions as F

    rows = spark.range(64 * n).select(
        "id", F.pmod(F.hash("id"), F.lit(n)).alias("p")
    ).collect()
    picked: dict = {}
    for r in rows:
        picked.setdefault(r.p, r.id)
    return [picked[p] for p in range(n)]


def py_task_cpu_s(spark, reps: int) -> "tuple[float, dict]":
    """(slope, {tasks: median worker CPU per call}) over 1, 2 and 4
    trivial applyInPandas tasks."""
    per_n: dict = {}
    xs, ys = [], []
    for n in (1, 2, 4):
        keys = _one_key_per_partition(spark, n)
        df = (
            spark.createDataFrame([(int(k),) for k in keys], "id long")
            .repartition(n, "id")
            .groupBy("id")
            .applyInPandas(lambda pdf: pdf, schema="id long")
        )
        df.collect()  # warm the daemon and the plan
        samples = []
        for _ in range(reps):
            c0 = _daemon_cpu_s()
            df.collect()
            samples.append(_daemon_cpu_s() - c0)
        per_n[n] = round(statistics.median(samples), 4)
        xs += [n] * reps
        ys += samples
    slope = float(np.polyfit(xs, ys, 1)[0])
    return slope, per_n


def _walks(rng, n: int, length: int) -> np.ndarray:
    return np.cumsum(rng.normal(0, 1, (n, length)), axis=1)


def _scorer(family: str, kind: str, nq: int, nc: int, length: int, opts: dict):
    """A zero-argument call that scores nq x nc seeded pairs once."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import (
        ELASTIC_KINDS,
        batch_kernel,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.knn import (
        _group_by_length,
        _score_block_rows,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.similarity import (
        _brute_cos_block_scorer,
        _quantized_cos_block_scorer,
    )

    rng = np.random.default_rng(7)
    Q, C = _walks(rng, nq, length), _walks(rng, nc, length)
    qids = np.arange(nq, dtype=np.int64)
    cids = np.arange(nq, nq + nc, dtype=np.int64)
    if family.startswith("ann_"):
        if family == "ann_quantized":
            Q = np.round(Q / np.abs(Q).max() * 127)
            C = np.round(C / np.abs(C).max() * 127)
            scorer = _quantized_cos_block_scorer
        else:
            scorer = _brute_cos_block_scorer
        return lambda: scorer(qids, Q, cids, C, 5, True)
    groups = _group_by_length(cids, list(C), np.asarray([f"c{i % 6}" for i in range(nc)]))
    fvals = np.empty(nq, dtype=object)
    fvals[:] = list(Q)
    elastic = (
        batch_kernel(kind, band=opts.get("band"), radius=opts.get("radius", 1))
        if kind in ELASTIC_KINDS else None
    )
    return lambda: _score_block_rows(
        qids, fvals, groups, kind=kind, elastic=elastic, k=5, excl=True,
    )


def cpu_s_per_unit(scale: float, reps: int) -> dict:
    """{family: CPU seconds per work unit}, the median of ``reps`` timed
    calls after one warm-up call (which also compiles the C kernels)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.pairscan import (
        _work_units,
    )

    out = {}
    for family, kind, nq, nc, length, opts in FAMILIES:
        nq, nc = max(2, round(nq * scale)), max(2, round(nc * scale))
        call = _scorer(family, kind, nq, nc, length, opts)
        call()
        times = []
        for _ in range(reps):
            t0 = time.process_time()
            call()
            times.append(time.process_time() - t0)
        units = nq * nc * _work_units(
            family, length, band=opts.get("band"), radius=opts.get("radius", 1)
        )
        out[family] = statistics.median(times) / units
    return out


def calibrate(spark, scale: float = 1.0, reps: int = 5) -> dict:
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import pairscan

    slope, per_n = py_task_cpu_s(spark, reps)
    return {
        "py_task_cpu_s": round(slope, 4),
        "task_cpu_s": per_n,
        "cpu_s_per_unit": {f: float(f"{v:.3g}") for f, v in cpu_s_per_unit(scale, reps).items()},
        "current": {
            "py_task_cpu_s": pairscan._PY_TASK_CPU_S,
            "cpu_s_per_unit": dict(pairscan._CPU_S_PER_UNIT),
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.session import get_spark

    spark = get_spark("calibrate-grid")
    try:
        print(json.dumps(calibrate(spark, args.scale, args.reps)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
