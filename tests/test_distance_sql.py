"""SQL distance expressions vs numpy ground truth; DTW pandas_udf plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (
    chebyshev,
    cosine_distance,
    dot,
    dtw_udf,
    euclidean,
    manhattan,
    make_dtw_udf,
    sbd,
    sq_euclidean,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
    dtw_pair,
)


@pytest.fixture(scope="module")
def pairs_df(spark):
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=12)], [float(x) for x in rng.normal(size=12)])
        for i in range(25)
    ]
    return spark.createDataFrame(rows, "id long, a array<double>, b array<double>"), rows


def test_sql_distances_match_numpy(pairs_df):
    df, rows = pairs_df
    got = df.select(
        "id",
        euclidean(F.col("a"), F.col("b")).alias("euc"),
        sq_euclidean(F.col("a"), F.col("b")).alias("sq"),
        manhattan(F.col("a"), F.col("b")).alias("man"),
        chebyshev(F.col("a"), F.col("b")).alias("che"),
        dot(F.col("a"), F.col("b")).alias("dot"),
        cosine_distance(F.col("a"), F.col("b")).alias("cos"),
    ).collect()
    by_id = {r["id"]: r for r in got}
    for i, a, b in rows:
        a, b = np.array(a), np.array(b)
        r = by_id[i]
        assert r["euc"] == pytest.approx(np.linalg.norm(a - b))
        assert r["sq"] == pytest.approx(np.sum((a - b) ** 2))
        assert r["man"] == pytest.approx(np.abs(a - b).sum())
        assert r["che"] == pytest.approx(np.abs(a - b).max())
        assert r["dot"] == pytest.approx(a @ b)
        assert r["cos"] == pytest.approx(
            1 - (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )


def _sbd_np(a, b):
    a, b = np.asarray(a), np.asarray(b)
    n = len(a)
    nrm = np.linalg.norm(a) * np.linalg.norm(b)
    if nrm == 0:
        return 1.0
    best = -np.inf
    for s in range(-(n - 1), n):
        if s >= 0:
            cc = float((a[s:] * b[: n - s]).sum())
        else:
            cc = float((a[: n + s] * b[-s:]).sum())
        best = max(best, cc)
    return 1.0 - best / nrm


def test_sq_euclidean_bits_match_squared_difference_form(spark):
    """sq_euclidean squares each difference inside the fold; its bits equal
    the ``(x - y) * (x - y)`` form's on random floats spanning many
    magnitudes, with NaN, -0.0 and null elements, null arrays and ragged
    rows (zip_with pads the shorter side with nulls)."""
    import struct

    rng = np.random.default_rng(17)

    def arr(n):
        vals = list(rng.normal(0, 1, n) * 10.0 ** rng.integers(-160, 160, n))
        for j in range(n):
            vals[j] = [float(vals[j]), float("nan"), -0.0, None][min(3, rng.integers(0, 12))]
        return vals

    rows = []
    for i in range(300):
        n = int(rng.integers(0, 9))
        m = n if i % 3 else int(rng.integers(0, 9))
        rows.append((i, None if i % 50 == 7 else arr(n), arr(m)))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    square_form = F.aggregate(
        F.zip_with("a", "b", lambda x, y: (x - y) * (x - y)), F.lit(0.0),
        lambda acc, v: acc + v,
    )
    got = df.select(
        sq_euclidean(F.col("a"), F.col("b")).alias("new"), square_form.alias("old")
    ).collect()
    bits = lambda v: None if v is None else struct.pack("<d", v)
    assert [bits(r.new) for r in got] == [bits(r.old) for r in got]
    assert {type(r.new) for r in got} == {float, type(None)}
    assert any(r.new is not None and r.new != r.new for r in got)  # NaN rows


def test_sbd_matches_numpy(pairs_df):
    df, rows = pairs_df
    got = {
        r["id"]: r["d"]
        for r in df.select("id", sbd(F.col("a"), F.col("b")).alias("d")).collect()
    }
    for i, a, b in rows:
        assert got[i] == pytest.approx(_sbd_np(a, b), abs=1e-12)


def test_sbd_shift_invariance_and_guards(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    shifted = np.concatenate([np.zeros(5), base[:-5]])  # 5-step delay
    rows = [
        (0, [float(x) for x in base], [float(x) for x in shifted]),
        (1, [float(x) for x in base], [float(x) for x in rng.normal(size=16)]),
        (2, [float(x) for x in base], [float(x) for x in base]),
        (3, [0.0] * 16, [float(x) for x in base]),  # zero-norm guard
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            sbd(F.col("a"), F.col("b")).alias("s"),
            euclidean(F.col("a"), F.col("b")).alias("e"),
        ).collect()
    }
    # a delayed copy is SBD-near but euclidean-far — the property the
    # distance exists for
    assert got[0]["s"] < 0.35 < got[1]["s"]
    assert got[0]["e"] > np.linalg.norm(base - np.roll(base, 5)) * 0.5
    assert got[2]["s"] == pytest.approx(0.0, abs=1e-12)  # identical series
    assert got[3]["s"] == 1.0  # flat-zero series pins to max distance


def test_sbd_knn_join_integration(spark):
    """metric='sbd' plugs into the KNN operator suite via DISTANCES."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join

    rng = np.random.default_rng(5)
    tr = [
        (i, [float(x) for x in rng.normal(size=12)], f"c{i % 2}") for i in range(20)
    ]
    te = [(100 + i, [float(x) for x in rng.normal(size=12)], "?") for i in range(4)]
    schema = "series_id long, features array<double>, label string"
    train, test = spark.createDataFrame(tr, schema), spark.createDataFrame(te, schema)
    out = knn_join(test, train, metric="sbd", k=3, strategy="broadcast").collect()
    assert len(out) == 12
    by_test = {}
    for r in out:
        by_test.setdefault(r["test_id"], []).append(r)
    for tid, rs in by_test.items():
        a = next(f for i, f, _ in te if i == tid)
        want = sorted(
            ((_sbd_np(a, f), lab, i) for i, f, lab in tr),
        )[:3]
        got = sorted((r["distance"], r["train_label"], r["train_id"]) for r in rs)
        for (gd, gl, gi), (wd, wl, wi) in zip(got, want):
            assert gd == pytest.approx(wd, abs=1e-12)
            assert (gl, gi) == (wl, wi)


def test_dtw_udf_matches_kernel(pairs_df):
    df, rows = pairs_df
    got = {r["id"]: r["d"] for r in df.select("id", dtw_udf(F.col("a"), F.col("b")).alias("d")).collect()}
    for i, a, b in rows:
        assert got[i] == pytest.approx(dtw_pair(a, b))


def test_dtw_udf_banded_and_ragged(spark):
    rows = [(0, [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 3.0, 5.0]), (1, [1.0, 1.0], [1.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {r["id"]: r["d"] for r in df.select("id", dtw_udf(F.col("a"), F.col("b")).alias("d")).collect()}
    assert got[0] == pytest.approx(2.0)
    assert got[1] == pytest.approx(0.0)
    banded = make_dtw_udf(2)
    got2 = {
        r["id"]: r["d"] for r in df.select("id", banded(F.col("a"), F.col("b")).alias("d")).collect()
    }
    assert got2[0] >= got[0] - 1e-9


def test_znorm_properties(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import znorm
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [5.0, 5.0, 5.0, 5.0])],
        "id long, features array<double>",
    )
    rows = {
        r.id: r.z
        for r in df.select("id", znorm(F.col("features")).alias("z")).collect()
    }
    z1 = rows[1]
    assert abs(sum(z1)) < 1e-12  # mean 0
    assert abs(sum(v * v for v in z1) / len(z1) - 1.0) < 1e-12  # unit variance
    assert z1 == sorted(z1)  # monotone input stays monotone
    # constant series: variance clamps, no div-by-zero/NaN; values are 0
    assert all(v == 0.0 for v in rows[2])


def test_series_features_values(spark):
    import math

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import series_features

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0])], "id long, a array<double>")
    [r] = df.select(series_features(F.col("a")).alias("f")).select("f.*").collect()
    assert r["n"] == 4
    assert r["mean"] == 2.5
    assert r["std"] == pytest.approx(math.sqrt(1.25))
    assert (r["vmin"], r["vmax"]) == (1.0, 4.0)
    assert r["slope"] == pytest.approx(1.0)  # perfectly linear

    # constant series: slope 0, std 0
    df2 = spark.createDataFrame([(1, [3.0, 3.0, 3.0])], "id long, a array<double>")
    [r2] = df2.select(series_features(F.col("a")).alias("f")).select("f.*").collect()
    assert r2["std"] == 0.0 and r2["slope"] == 0.0


def test_resample_linear_endpoints_and_midpoints(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.arrays import resample_linear

    df = spark.createDataFrame([(1, [0.0, 10.0, 20.0, 30.0])], "id long, a array<double>")
    [r] = df.select(resample_linear(F.col("a"), 4).alias("r")).collect()
    assert r["r"] == [0.0, 10.0, 20.0, 30.0]  # same length -> identity
    [r2] = df.select(resample_linear(F.col("a"), 7).alias("r")).collect()
    assert r2["r"][0] == 0.0 and r2["r"][-1] == 30.0  # endpoint-exact
    assert r2["r"][3] == pytest.approx(15.0)          # true midpoint
    # singleton broadcasts
    df1 = spark.createDataFrame([(1, [5.0])], "id long, a array<double>")
    [r3] = df1.select(resample_linear(F.col("a"), 3).alias("r")).collect()
    assert r3["r"] == [5.0, 5.0, 5.0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="out_len"):
        resample_linear(F.col("a"), 1)


def test_sax_word_hand_computed(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import sax_word

    # 16 points: first half very low, second half very high -> znorm makes
    # halves symmetric around 0 -> segments: a a d d
    vals = [0.0] * 8 + [10.0] * 8
    df = spark.createDataFrame([(1, vals)], "id long, features array<double>")
    row = df.select(sax_word(F.col("features"), 4, 16, alphabet=4).alias("w")).collect()[0]
    assert row.w == "aadd"
    # constant series: znorm guard (std -> 1e-150) keeps zeros -> all in
    # the 'b' band (0 < 0.67, not < 0.0 is false... 0.0 < 0.0 False -> 'c'?)
    df2 = spark.createDataFrame([(1, [5.0] * 16)], "id long, features array<double>")
    w2 = df2.select(sax_word(F.col("features"), 4, 16).alias("w")).collect()[0].w
    assert w2 == "cccc"  # 0.0 is not < 0.0 -> letter c band [0, 0.67)


def test_sax_word_validates_alphabet(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import sax_word

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alphabet"):
        sax_word(F.col("features"), 4, 16, alphabet=99)


@pytest.mark.slow
def test_sax_blocking_recall_on_clustered_series(spark, har_dfs):
    """The composition claim in sax_word's docstring, measured: on
    clustered series (the HAR-like fixture, length 24), SAX-word equality
    is a candidate generator for 1-NN — block pairs cover the true
    nearest neighbor for most probes at a small fraction of the full
    cross product. (On structureless random walks this degrades — the
    same data-dependence as every blocking scheme; NOTES.md.)"""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import sax_word
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import (
        sq_euclidean,
    )

    train, test = har_dfs
    wtr = train.select(
        F.col("series_id").alias("train_id"),
        F.col("features").alias("tf"),
        sax_word(F.col("features"), 4, 24, alphabet=4).alias("w"),
    )
    wte = test.select(
        F.col("series_id").alias("test_id"),
        F.col("features").alias("qf"),
        sax_word(F.col("features"), 4, 24, alphabet=4).alias("w"),
    )
    # brute-force true 1-NN
    brute = (
        wte.crossJoin(wtr.select("train_id", "tf"))
        .withColumn("d", sq_euclidean(F.col("qf"), F.col("tf")))
        .groupBy("test_id")
        .agg(F.min_by("train_id", F.struct("d", "train_id")).alias("nn"))
    )
    truth = {r.test_id: r.nn for r in brute.collect()}
    # SAX-blocked candidates: same word only
    blocked = (
        wte.join(wtr, "w")
        .withColumn("d", sq_euclidean(F.col("qf"), F.col("tf")))
        .groupBy("test_id")
        .agg(
            F.min_by("train_id", F.struct("d", "train_id")).alias("nn"),
            F.count(F.lit(1)).alias("n_cand"),
        )
    )
    got = {r.test_id: (r.nn, r.n_cand) for r in blocked.collect()}
    n_test, n_train = len(truth), wtr.count()
    hits = sum(1 for tid, nn in truth.items() if tid in got and got[tid][0] == nn)
    covered = len(got)
    total_cand = sum(c for _, c in got.values())
    # the fixture's 4 classes separate cleanly: expect high recall at a
    # fraction of the quadratic candidate count
    assert hits / n_test >= 0.8, (hits, n_test)
    assert covered >= n_test * 0.9
    assert total_cand < n_test * n_train * 0.6, (total_cand, n_test * n_train)


def test_sbd_batch_matches_naive_sweep():
    """FFT kernel vs the naive shift sweep — random, anti-correlated
    (all-negative cc: the zero-padding-bin trap), and zero-norm pairs."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import sbd_batch

    rng = np.random.default_rng(17)
    for n in (1, 2, 7, 16, 64):
        A = rng.normal(size=(20, n))
        B = rng.normal(size=(20, n))
        if n >= 4:
            A[0] = np.sin(np.linspace(0, 5, n))
            B[0] = -A[0]  # every correlation negative
        A[1] = 0.0  # zero norm
        got = sbd_batch(A, B)
        exp = np.array([_sbd_np(a, b) for a, b in zip(A, B)])
        assert np.abs(got - exp).max() < 1e-11, n
    with pytest.raises(ValueError, match="equal-length"):
        sbd_batch(np.zeros((2, 4)), np.zeros((2, 5)))


def test_sbd_kernel_strategies_match_declarative(spark):
    """knn_join metric='sbd': kernel and chunked (FFT batch) agree with the
    broadcast expression path on neighbor sets and ranks (distances to
    1e-9 — FFT reassociation)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join

    rng = np.random.default_rng(23)
    tr = [(i, [float(x) for x in rng.normal(size=16)], f"c{i % 2}") for i in range(40)]
    te = [(100 + i, [float(x) for x in rng.normal(size=16)], "?") for i in range(8)]
    schema = "series_id long, features array<double>, label string"
    train, test = spark.createDataFrame(tr, schema), spark.createDataFrame(te, schema)
    base = {
        (r["test_id"], r["rank"]): (r["train_id"], r["distance"])
        for r in knn_join(test, train, metric="sbd", k=3, strategy="broadcast").collect()
    }
    for strat in ("kernel", "chunked"):
        got = {
            (r["test_id"], r["rank"]): (r["train_id"], r["distance"])
            for r in knn_join(test, train, metric="sbd", k=3, strategy=strat).collect()
        }
        assert set(got) == set(base), strat
        for key, (tid, d) in got.items():
            assert tid == base[key][0], (strat, key)
            assert d == pytest.approx(base[key][1], abs=1e-9), (strat, key)


def test_sbd_align_lag_sign_and_ties(spark):
    """r6 (functions/distance.py::sbd_align): sign convention pinned —
    a ``b`` equal to ``a`` DELAYED by L samples recovers lag = -L at
    distance 0; identical series give (0, 0); zero-norm pins to (1, 0)."""
    import numpy as np
    from pyspark.sql import functions as F

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import (
        sbd_align,
    )

    rng = np.random.default_rng(5)
    core = np.cumsum(rng.normal(size=6)) + 10
    n = 14
    rows = []
    for L in (0, 2, 4):
        a = np.zeros(n)
        a[1:7] = core
        b = np.zeros(n)
        b[1 + L : 7 + L] = core
        rows.append((L, [float(v) for v in a], [float(v) for v in b]))
    rows.append((99, [0.0] * n, [1.0] * n))
    df = spark.createDataFrame(rows, "k long, a array<double>, b array<double>")
    out = {
        r["k"]: (r["r"]["sbd"], r["r"]["lag"])
        for r in df.select(
            "k", sbd_align(F.col("a"), F.col("b")).alias("r")
        ).collect()
    }
    for L in (0, 2, 4):
        d, lag = out[L]
        assert abs(d) < 1e-12, L  # 1 - max_ncc leaves ~1 ulp of residue
        assert lag == -L, L
    assert out[99] == (1.0, 0)
