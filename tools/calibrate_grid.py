#!/usr/bin/env python3
"""Measure the block grid's cost model (operators/pairscan.py).

- ``_PY_TASK_CPU_S``: the CPU one more grid cell costs, measured on a
  chunked KNN call at trivial scoring (euclidean, 200 x 600 x 16, cached
  sides) with the grid forced to 1 x 1, 1 x 2 and 1 x 4 cells, the
  cell counts taken in turn so the session's JIT warm-up spreads over
  all three. CPU is the process tree's (this driver, the JVM, the Python
  workers) per call, median over the repetitions; the constant is the
  step from one cell to two, where the grid first pays for an exchange,
  a rerank, another stage and a second Python task.
- The fixed CPU of one Python task, for reference: the least-squares
  slope of Python-worker CPU seconds over 1, 2 and 4 trivial
  ``applyInPandas`` tasks (each task one group that returns its input),
  read from /proc for the live processes below the JVM (the worker
  daemon and the workers it forked), so it counts neither the JVM nor
  this driver.
- ``_CPU_S_PER_UNIT``: each scoring family's CPU seconds per work unit
  (``pairscan._work_units``), timed with ``time.process_time`` on seeded
  random walks, each family in a fresh spawned process: the KNN scoring
  core ``_score_block_rows`` for the time-series families, the ANN
  scorers for the embedding ones.

Usage: python3 tools/calibrate_grid.py [--scale S] [--reps N]

Prints one JSON object: ``py_task_cpu_s`` (the one-cell-to-two step),
``task_cpu_s`` (median CPU per call at 1, 2 and 4 cells),
``worker_task_cpu_s`` (the trivial tasks' slope) with ``worker_cpu_s``
(median worker CPU per call at each task count), ``cpu_s_per_unit``
(the measured coefficients) and ``current`` (the constants in
pairscan.py, for comparison). ``--scale`` shrinks the scoring pair
counts (a small value gives a quick smoke run; its coefficients are
noisier).
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
# this directory too, so a spawned child can import this tool by name
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
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


def _worker_cpu_s() -> float:
    """User + system CPU seconds used so far by the live processes below
    the JVM this driver launched: the Python worker daemon and the
    workers it forked. A worker that exits takes its CPU with it (the
    daemon ignores SIGCHLD, so no parent counts it); read this around
    work on reused workers."""
    from tracing import descendants

    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) != os.getpid():  # not the JVM itself
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


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


def worker_task_cpu_s(spark, reps: int) -> "tuple[float, dict]":
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
            c0 = _worker_cpu_s()
            df.collect()
            samples.append(_worker_cpu_s() - c0)
        per_n[n] = round(statistics.median(samples), 4)
        xs += [n] * reps
        ys += samples
    slope = float(np.polyfit(xs, ys, 1)[0])
    return slope, per_n


def _walks(rng, n: int, length: int) -> np.ndarray:
    return np.cumsum(rng.normal(0, 1, (n, length)), axis=1)


def grid_cell_cpu_s(spark, reps: int) -> "tuple[float, dict]":
    """(one-cell-to-two step, {cells: median process-tree CPU per call})
    of a chunked euclidean KNN call (200 x 600 x 16, cached sides, k = 5)
    whose grid is forced to 1 x 1, 1 x 2 and 1 x 4 cells. The cell counts
    run in turn, one call each per round, after one warm-up round."""
    from tracing import tree_cpu_s

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import pairscan
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.knn import knn_join

    rng = np.random.default_rng(5)
    schema = "series_id long, features array<double>, label string"

    def side(n, start):
        walks = _walks(rng, n, 16)
        rows = [(start + i, [float(x) for x in w], "ab"[i % 2]) for i, w in enumerate(walks)]
        return spark.createDataFrame(rows, schema).cache()

    test, train = side(200, 0), side(600, 1000)
    test.count(), train.count()
    samples: dict = {1: [], 2: [], 4: []}
    split = pairscan._grid_split
    try:
        for rnd in range(reps + 1):
            for n in samples:
                pairscan._grid_split = lambda *a, n=n: (1, n)
                c0 = tree_cpu_s(os.getpid())
                knn_join(test, train, metric="euclidean", k=5, strategy="chunked").collect()
                if rnd:
                    samples[n].append(tree_cpu_s(os.getpid()) - c0)
    finally:
        pairscan._grid_split = split
        test.unpersist(), train.unpersist()
    per_n = {n: round(statistics.median(v), 4) for n, v in samples.items()}
    return per_n[2] - per_n[1], per_n


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


def _family_cpu_s_per_unit(
    family: str, kind: str, nq: int, nc: int, length: int, opts: dict, reps: int
) -> float:
    """CPU seconds per work unit of one family: the median of ``reps``
    timed calls after one warm-up call (which also compiles the C
    kernels)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.pairscan import (
        _work_units,
    )

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
    return statistics.median(times) / units


def cpu_s_per_unit(scale: float, reps: int) -> dict:
    """{family: CPU seconds per work unit}, each family timed in a fresh
    spawned process. In one process a reading can depend on what ran
    before it (one host read the point family at about half its solo
    cost after the gram family), so no family inherits another's heap,
    allocator state or caches."""
    import importlib
    import multiprocessing

    # the tool by its module name, whose functions a spawned child can
    # unpickle (this module may have been loaded from its path)
    tool = importlib.import_module("calibrate_grid")
    ctx = multiprocessing.get_context("spawn")
    out = {}
    for family, kind, nq, nc, length, opts in FAMILIES:
        nq, nc = max(2, round(nq * scale)), max(2, round(nc * scale))
        with ctx.Pool(1) as pool:
            out[family] = pool.apply(
                tool._family_cpu_s_per_unit, (family, kind, nq, nc, length, opts, reps)
            )
    return out


def calibrate(spark, scale: float = 1.0, reps: int = 5) -> dict:
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import pairscan

    step, per_cells = grid_cell_cpu_s(spark, reps)
    slope, per_task = worker_task_cpu_s(spark, reps)
    return {
        "py_task_cpu_s": round(step, 4),
        "task_cpu_s": per_cells,
        "worker_task_cpu_s": round(slope, 4),
        "worker_cpu_s": per_task,
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
