"""conformal_knn kernel scoring path (r9 optimization): exact equality with
the declarative crossJoin + HOF-fold plan, guard routing, and the fallback
surface. The kernel path's claim is BIT-identity (same IEEE op order), so
every comparison here is ==, never isclose."""

import math

import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    conformal_knn,
    conformal_set,
)


def _rows(df):
    """Sorted tuples with NaN normalized (NaN != NaN would break ==)."""
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(tuple(norm(v) for v in r) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("metric", ["euclidean", "twed", "dtw", "manhattan"])
def test_conformal_kernel_matches_declarative(spark, har_dfs, metric):
    train, test = har_dfs
    kern = conformal_knn(test, train, metric=metric, min_kernel_pairs=0)
    decl = conformal_knn(test, train, metric=metric)  # volume gate -> declarative
    grid = conformal_knn(test, train, metric=metric, max_broadcast_bytes=64)
    assert "MapInPandas" in _plan(kern)
    assert "MapInPandas" not in _plan(decl) or metric == "dtw"  # dtw_udf is Arrow either way
    # r10 (VERDICT r9 #6): an over-budget proper split rides the chunked
    # block grid (applyInPandas cells + global MIN), never the interpreted
    # crossJoin fold
    assert "FlatMapGroupsInPandas" in _plan(grid)
    assert _rows(kern) == _rows(decl)
    assert _rows(grid) == _rows(decl)


def test_conformal_kernel_duplicates_and_zero_distances(spark):
    """Exact duplicates across splits exercise the d != 0 exclusion; a
    calibration label missing from the proper split exercises the drop-out
    path; both must match the declarative plan exactly."""
    rows = [
        # ids chosen so pmod(id,3)==1 -> calibration {1, 4, 7, 10}
        (0, [1.0, 2.0, 3.0, 4.0], "a"),
        (1, [1.0, 2.0, 3.0, 4.0], "a"),   # cal, exact dup of proper 0
        (2, [1.0, 2.0, 3.0, 5.0], "b"),
        (3, [0.0, 0.0, 0.0, 0.0], "b"),
        (4, [1.0, 2.0, 3.0, 5.0], "b"),   # cal, exact dup of proper 2
        (5, [9.0, 9.0, 9.0, 9.0], "a"),
        (6, [4.0, 3.0, 2.0, 1.0], "b"),
        (7, [4.0, 3.0, 2.0, 1.0], "zzz"), # cal, label absent from proper
        (10, [2.0, 2.0, 2.0, 2.0], "a"),  # cal
    ]
    train = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    test = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0]), (101, [5.0, 5.0, 5.0, 5.0])],
        "series_id long, features array<double>",
    ).withColumn("label", F.lit("x"))
    kern = conformal_knn(test, train, min_kernel_pairs=0)
    decl = conformal_knn(test, train)  # volume gate -> declarative
    grid = conformal_knn(test, train, max_broadcast_bytes=64)
    assert "MapInPandas" in _plan(kern)
    assert _rows(kern) == _rows(decl)
    assert _rows(grid) == _rows(decl)


def test_conformal_kernel_nonfinite_features(spark):
    """NaN/inf feature rows: NaN distances survive the d != 0 filter
    (NaN != 0) and MIN is NaN-greatest; inf distances are real values.
    Kernel and declarative must agree exactly, including NaN placement."""
    rows = [
        (0, [1.0, 2.0], "a"),
        (1, [float("nan"), 2.0], "a"),   # cal with NaN features
        (2, [float("inf"), 0.0], "b"),   # proper with inf features
        (3, [1.0, 3.0], "b"),
        (4, [2.0, 2.0], "a"),            # cal
        (6, [0.5, 1.5], "a"),
        (7, [3.0, 3.0], "b"),            # cal
    ]
    train = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    test = spark.createDataFrame(
        [(100, [1.0, 2.0], "x"), (101, [float("nan"), 1.0], "x")],
        "series_id long, features array<double>, label string",
    )
    kern = conformal_knn(test, train, min_kernel_pairs=0)
    decl = conformal_knn(test, train)  # volume gate -> declarative
    grid = conformal_knn(test, train, max_broadcast_bytes=64)
    assert _rows(kern) == _rows(decl)
    # the grid cells emit NaN (Arrow NULL) for only-NaN cells; the global
    # MIN + coalesce must restore the declarative NaN placement exactly
    assert _rows(grid) == _rows(decl)


def test_conformal_kernel_ragged_elastic(spark):
    """Ragged series with an elastic metric: the kernel scores per-length
    rectangular groups and merges mins exactly."""
    rows = [
        (0, [1.0, 2.0, 3.0], "a"),
        (1, [1.0, 2.0], "a"),
        (2, [3.0, 2.0, 1.0, 0.0], "b"),
        (3, [2.0, 2.0, 2.0], "b"),
        (4, [0.0, 1.0, 2.0, 3.0, 4.0], "a"),
        (6, [5.0, 4.0], "b"),
        (7, [1.0, 1.0, 1.0], "a"),
        (9, [2.0, 4.0, 6.0], "b"),
        (10, [0.0, 0.5], "b"),
    ]
    train = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    test = spark.createDataFrame(
        [(100, [1.5, 2.5, 3.5], "x"), (101, [4.0], "x")],
        "series_id long, features array<double>, label string",
    )
    kern = conformal_knn(test, train, metric="twed", min_kernel_pairs=0)
    decl = conformal_knn(test, train, metric="twed")  # volume gate
    grid = conformal_knn(test, train, metric="twed", max_broadcast_bytes=64)
    assert "MapInPandas" in _plan(kern)
    assert _rows(kern) == _rows(decl)
    assert _rows(grid) == _rows(decl)


def test_conformal_kernel_ragged_point_falls_back(spark):
    """Ragged proper split + point metric: no kernel twin exists for the
    null-fold semantics across a ragged proper, so the guard must keep the
    declarative plan (and the two calls are therefore identical)."""
    rows = [
        (0, [1.0, 2.0, 3.0], "a"),
        (1, [1.0, 2.0], "a"),
        (2, [3.0, 2.0, 1.0], "b"),
        (3, [2.0, 2.0], "b"),
        (4, [0.0, 1.0, 2.0], "a"),
    ]
    train = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    test = spark.createDataFrame(
        [(100, [1.5, 2.5, 3.5], "x")],
        "series_id long, features array<double>, label string",
    )
    out = conformal_knn(test, train, min_kernel_pairs=0)  # still declarative
    assert "MapInPandas" not in _plan(out)


def test_conformal_kernel_callable_metric_stays_declarative(spark, har_dfs):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import (
        euclidean,
    )

    train, test = har_dfs
    out = conformal_knn(test, train, metric=lambda a, b: euclidean(a, b))
    assert "MapInPandas" not in _plan(out)
    assert _rows(out) == _rows(conformal_knn(test, train, min_kernel_pairs=0))


def test_conformal_set_rides_kernel_path(spark, har_dfs):
    train, test = har_dfs
    kern = conformal_set(test, train, eps=0.2, min_kernel_pairs=0)
    decl = conformal_set(test, train, eps=0.2)  # volume gate -> declarative
    assert "MapInPandas" in _plan(kern)
    assert _rows(kern) == _rows(decl)


def test_conformal_kernel_single_eval_via_exchange_reuse(spark, har_dfs):
    """The kernel outputs are cached and landed eagerly so each kernel
    runs ONCE at population — the executed tree must show ZERO python
    nodes (all behind InMemoryTableScan, where executed_node_counts
    stops) and each cached table scanned from memory by exactly one
    consumer: the calibration window pipeline reads cmin, the test window
    pipeline reads tmin. (Before each table fed one pipeline, cmin had 2
    consumers and tmin 3, and the uncached plan measured 6 MapInPandas
    nodes.)"""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans.audit import (
        executed_node_counts,
    )

    train, test = har_dfs
    out = conformal_knn(test, train, min_kernel_pairs=0)
    counts = executed_node_counts(out)
    assert counts["python_nodes"] == 0
    assert counts["inmem_scans"] == 2  # cmin and tmin, one consumer each


def test_conformal_pair_volume_gate(spark, har_dfs):
    """Routing only — both branches exact: below min_kernel_pairs the
    kernel's fixed driver jobs cost more than the interpreted fold they
    replace (measured 1.8 s declarative vs 4.7 s kernel at the sf0.1 1x
    shape), so tiny corpora keep the declarative plan by default."""
    train, test = har_dfs
    default = conformal_knn(test, train)  # HAR fixture: ~3e3 cal pairs
    assert "MapInPandas" not in _plan(default)
    forced = conformal_knn(test, train, min_kernel_pairs=0)
    assert "MapInPandas" in _plan(forced)
    assert _rows(default) == _rows(forced)


def test_conformal_overbudget_grid_ragged_point_stays_declarative(spark):
    """The grid inherits the kernel family's metric surface: a ragged
    proper split under a POINT metric has no exact twin (declarative
    null-fold drops), so even an over-budget call keeps the declarative
    plan there."""
    rows = [
        (0, [1.0, 2.0, 3.0], "a"),
        (1, [1.0, 2.0], "a"),
        (2, [3.0, 2.0, 1.0], "b"),
        (3, [2.0, 2.0], "b"),
        (4, [0.0, 1.0, 2.0], "a"),
    ]
    train = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    test = spark.createDataFrame(
        [(100, [1.5, 2.5, 3.5], "x")],
        "series_id long, features array<double>, label string",
    )
    out = conformal_knn(test, train, max_broadcast_bytes=64)
    assert "FlatMapGroupsInPandas" not in _plan(out)
    assert "MapInPandas" not in _plan(out)
    assert _rows(out) == _rows(conformal_knn(test, train))
