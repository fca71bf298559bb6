"""Edit-distance metric family (r6): LCSS / EDR / ERP / TWED / MSM.

Contracts pinned here:
- batch kernels == an independent naive per-pair Python DP (fuzz, ragged
  lengths, incl. the LCSS temporal-window delta variant);
- Catalyst fold expressions == kernels BITWISE (the oracle-exactness
  backbone: per-cell arithmetic is evaluation-order independent);
- all three knn_join strategies (broadcast expression / kernel /
  chunked) return identical neighbor sets for every metric;
- empty-side guard (sequence(1, 0) descends — repo invariant) -> NULL;
- ERP's and TWED's triangle inequality (the edit-family members that
  ARE metrics).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
    EDR_EPS,
    ERP_GAP,
    LCSS_EPS,
    TWED_LAM,
    TWED_NU,
    edr_batch,
    edr_dist,
    erp_batch,
    erp_dist,
    lcss_batch,
    lcss_dist,
    msm_batch,
    msm_dist,
    twed_batch,
    twed_dist,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join


def _naive_lcss(a, b, eps, delta=None):
    n, m = len(a), len(b)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            ok = abs(a[i - 1] - b[j - 1]) <= eps and (
                delta is None or abs(i - j) <= delta
            )
            dp[i][j] = dp[i - 1][j - 1] + 1 if ok else max(dp[i - 1][j], dp[i][j - 1])
    return 1.0 - dp[n][m] / min(n, m)


def _naive_edr(a, b, eps):
    n, m = len(a), len(b)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        dp[i][0] = i
    for j in range(m + 1):
        dp[0][j] = j
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            sub = 0 if abs(a[i - 1] - b[j - 1]) <= eps else 1
            dp[i][j] = min(dp[i - 1][j - 1] + sub, dp[i - 1][j] + 1, dp[i][j - 1] + 1)
    return dp[n][m] / max(n, m)


def _naive_erp(a, b, g):
    n, m = len(a), len(b)
    dp = [[0.0] * (m + 1) for _ in range(n + 1)]
    for i in range(1, n + 1):
        dp[i][0] = dp[i - 1][0] + abs(a[i - 1] - g)
    for j in range(1, m + 1):
        dp[0][j] = dp[0][j - 1] + abs(g - b[j - 1])
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            dp[i][j] = min(
                dp[i - 1][j - 1] + abs(a[i - 1] - b[j - 1]),
                dp[i - 1][j] + abs(a[i - 1] - g),
                dp[i][j - 1] + abs(g - b[j - 1]),
            )
    return dp[n][m]


def _naive_twed(a, b, nu, lam):
    n, m = len(a), len(b)
    inf = float("inf")
    nu2, gap = 2.0 * nu, nu + lam
    ap = [0.0] + list(a[:-1])
    bp = [0.0] + list(b[:-1])
    dp = [[inf] * (m + 1) for _ in range(n + 1)]
    dp[0][0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            d_match = (abs(a[i - 1] - b[j - 1]) + abs(ap[i - 1] - bp[j - 1])) + nu2 * abs(i - j)
            dp[i][j] = min(
                dp[i - 1][j - 1] + d_match,
                dp[i - 1][j] + (abs(a[i - 1] - ap[i - 1]) + gap),
                dp[i][j - 1] + (abs(b[j - 1] - bp[j - 1]) + gap),
            )
    return dp[n][m]


def _naive_msm(a, b, c=1.0):
    n, m = len(a), len(b)

    def C(x, y, z):
        if (y <= x <= z) or (y >= x >= z):
            return c
        return c + min(abs(x - y), abs(x - z))

    dp = [[0.0] * (m + 1) for _ in range(n + 1)]
    dp[1][1] = abs(a[0] - b[0])
    for j in range(2, m + 1):
        dp[1][j] = dp[1][j - 1] + C(b[j - 1], b[j - 2], a[0])
    for i in range(2, n + 1):
        dp[i][1] = dp[i - 1][1] + C(a[i - 1], a[i - 2], b[0])
    for i in range(2, n + 1):
        for j in range(2, m + 1):
            dp[i][j] = min(
                dp[i - 1][j - 1] + abs(a[i - 1] - b[j - 1]),
                dp[i - 1][j] + C(a[i - 1], a[i - 2], b[j - 1]),
                dp[i][j - 1] + C(b[j - 1], b[j - 2], a[i - 1]),
            )
    return dp[n][m]


def _random_pairs(n_pairs=60, seed=11):
    rng = np.random.default_rng(seed)
    return [
        (
            rng.uniform(0, 100, int(rng.integers(2, 14))),
            rng.uniform(0, 100, int(rng.integers(2, 14))),
        )
        for _ in range(n_pairs)
    ]


def test_kernels_match_naive_dp_fuzz():
    for a, b in _random_pairs():
        A, B = a[None, :], b[None, :]
        assert lcss_batch(A, B, eps=10.0)[0] == _naive_lcss(a, b, 10.0)
        assert lcss_batch(A, B, eps=10.0, delta=2)[0] == _naive_lcss(a, b, 10.0, 2)
        assert edr_batch(A, B, eps=10.0)[0] == _naive_edr(a, b, 10.0)
        # bit equality, not isclose: the anti-diagonal kernel computes the
        # exact per-cell value DAG of the naive row sweep
        assert erp_batch(A, B, g=0.0)[0] == _naive_erp(a, b, 0.0)
        assert erp_batch(A, B, g=5.0)[0] == _naive_erp(a, b, 5.0)
        assert twed_batch(A, B)[0] == _naive_twed(a, b, TWED_NU, TWED_LAM)
        assert twed_batch(A, B, nu=1.0, lam=0.5)[0] == _naive_twed(a, b, 1.0, 0.5)
        assert msm_batch(A, B)[0] == _naive_msm(a, b)
        assert msm_batch(A, B, c=0.1)[0] == _naive_msm(a, b, 0.1)


def test_kernels_batch_composition_invariant():
    """Stacking many pairs into one kernel call never changes any pair's
    result (the fastdtw_batch contract, shared by the whole kernel
    family)."""
    rng = np.random.default_rng(3)
    pairs = [(rng.uniform(0, 100, 8), rng.uniform(0, 100, 8)) for _ in range(32)]
    A = np.stack([p[0] for p in pairs])
    B = np.stack([p[1] for p in pairs])
    for fn, kw in ((lcss_batch, {"eps": 10.0}), (edr_batch, {"eps": 10.0}),
                   (erp_batch, {"g": 0.0}), (twed_batch, {}),
                   (msm_batch, {})):
        batched = fn(A, B, **kw)
        single = np.array([fn(a[None, :], b[None, :], **kw)[0] for a, b in pairs])
        assert (batched == single).all()


def test_expressions_match_kernels_bitwise(spark):
    rows = [
        (i, a.tolist(), b.tolist()) for i, (a, b) in enumerate(_random_pairs(40))
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        "id",
        lcss_dist(F.col("a"), F.col("b")).alias("lcss"),
        edr_dist(F.col("a"), F.col("b")).alias("edr"),
        erp_dist(F.col("a"), F.col("b")).alias("erp"),
        twed_dist(F.col("a"), F.col("b")).alias("twed"),
        msm_dist(F.col("a"), F.col("b")).alias("msm"),
    ).collect()
    by_id = {r["id"]: r for r in got}
    for i, (a, b) in enumerate(_random_pairs(40)):
        A, B = a[None, :], b[None, :]
        r = by_id[i]
        assert r["lcss"] == lcss_batch(A, B, eps=LCSS_EPS)[0]
        assert r["edr"] == edr_batch(A, B, eps=EDR_EPS)[0]
        assert r["erp"] == erp_batch(A, B, g=ERP_GAP)[0]
        assert r["twed"] == twed_batch(A, B)[0]
        assert r["msm"] == msm_batch(A, B)[0]


def test_empty_side_guard_returns_null(spark):
    df = spark.createDataFrame(
        [(1, [], [1.0, 2.0]), (2, [1.0], []), (3, [], [])],
        "id long, a array<double>, b array<double>",
    )
    got = df.select(
        lcss_dist(F.col("a"), F.col("b")).alias("l"),
        edr_dist(F.col("a"), F.col("b")).alias("e"),
        erp_dist(F.col("a"), F.col("b")).alias("r"),
        twed_dist(F.col("a"), F.col("b")).alias("t"),
        msm_dist(F.col("a"), F.col("b")).alias("ms"),
    ).collect()
    for row in got:
        assert row["l"] is None and row["e"] is None and row["r"] is None
        assert row["t"] is None and row["ms"] is None


def test_erp_twed_triangle_inequality():
    """ERP, TWED and MSM are the edit-family members that are TRUE
    metrics (Chen & Ng 2004; Marteau 2009; Stefan et al. 2013)."""
    rng = np.random.default_rng(5)
    for _ in range(200):
        a, b, c = (rng.uniform(0, 50, 10) for _ in range(3))
        for fn in (erp_batch, twed_batch, msm_batch):
            dab = fn(a[None, :], b[None, :])[0]
            dac = fn(a[None, :], c[None, :])[0]
            dcb = fn(c[None, :], b[None, :])[0]
            assert dab <= dac + dcb + 1e-9


@pytest.mark.parametrize("metric", ["lcss", "edr", "erp", "twed", "msm"])
def test_knn_strategies_agree(spark, metric):
    """broadcast (Catalyst fold) / kernel (anti-diagonal numpy) / chunked
    (block cells) return the SAME ranked neighbors — integer or
    order-independent state makes this exact, no tolerance."""
    rng = np.random.default_rng(9)
    train = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.uniform(0, 100, 16)], f"c{i % 3}")
            for i in range(40)
        ],
        "series_id long, features array<double>, label string",
    )
    test = spark.createDataFrame(
        [
            (100 + i, [float(x) for x in rng.uniform(0, 100, 16)], "t")
            for i in range(12)
        ],
        "series_id long, features array<double>, label string",
    )
    base = None
    for strategy in ("broadcast", "kernel", "chunked"):
        got = sorted(
            (r["test_id"], r["rank"], r["train_id"], r["distance"])
            for r in knn_join(
                test, train, metric=metric, k=4, strategy=strategy
            ).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base, f"{metric}: {strategy} diverged from broadcast"


def test_knn_lof_planted_outlier(spark):
    """A tight 2-D-ish cluster + one far point: the far point's LOF is the
    maximum and well above 1; in-cluster points sit near 1 (the LOF
    contract — scores are density-RELATIVE)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_lof

    rng = np.random.default_rng(21)
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 0.5, 8)]) for i in range(30)
    ] + [(999, [50.0] * 8)]
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    got = {r["series_id"]: r for r in knn_lof(df, k=5).collect()}
    assert len(got) == 31
    lofs = {i: r["lof"] for i, r in got.items()}
    assert max(lofs, key=lofs.get) == 999
    assert lofs[999] > 2.0
    in_cluster = [v for i, v in lofs.items() if i != 999]
    assert all(0.5 < v < 2.0 for v in in_cluster)


def test_knn_impute_cluster_fill_and_degradation(spark):
    """knn_impute (r6): a masked point in a tight cluster is filled with
    its donors' rank-ordered mean; donors NULL at the position filter
    out (n_donors < k); a position nobody observed stays NULL."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_impute

    rows = [
        # cluster A around [10, 20, 30, 40]; id=1 missing t=2
        (1, [10.0, None, 30.0, 40.0]),
        (2, [10.5, 20.5, 30.5, 40.5]),
        (3, [9.5, 19.5, 29.5, 39.5]),
        (4, [10.0, 20.0, 30.0, 40.0]),
        # far-away cluster B (never among A's 3 nearest)
        (5, [900.0, 900.0, 900.0, 900.0]),
        # id=6: missing at t=4 where two of its donors are ALSO null
        (6, [10.2, 20.2, 30.2, None]),
        # id=7: all series null at t=1 except far-away B
        (7, [None, 20.1, 30.1, 40.1]),
    ]
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    out = {(r["series_id"], r["t"]): r for r in knn_impute(df, k=3).collect()}

    r1 = out[(1, 2)]
    assert r1["n_donors"] == 3
    # donors of 1 are the A cluster (ranked by msd): mean of their t=2
    assert abs(r1["imputed"] - (20.0 + 20.1 + 20.2) / 3) < 1.0
    r6 = out[(6, 4)]
    assert r6["n_donors"] == 3 and r6["imputed"] is not None
    r7 = out[(7, 1)]
    assert r7["n_donors"] == 3  # nearest 3 of id=7 all observe t=1

    # direct no-donor case: everyone null at t=1
    df2 = spark.createDataFrame(
        [(1, [None, 2.0]), (2, [None, 2.5]), (3, [None, 3.0])],
        "series_id long, features array<double>",
    )
    out2 = {(r["series_id"], r["t"]): r for r in knn_impute(df2, k=2).collect()}
    assert out2[(1, 1)]["n_donors"] == 0 and out2[(1, 1)]["imputed"] is None


def test_knn_lof_duplicates_keep_their_rows(spark):
    """r6 review regression: a corpus with an exact duplicate pair (whose
    members retain fewer than k nonzero-distance neighbors under P7) must
    keep EVERY point in the output, and a planted far outlier must still
    score the maximum (the old rank==k inner joins dropped the duplicates
    and dragged the outlier below 1)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_lof

    pts = [
        (1, [0.0, 0.0]), (2, [0.0, 0.0]),       # exact duplicates
        (3, [1.0, 0.0]), (4, [0.0, 1.0]), (5, [1.0, 1.0]), (6, [0.5, 0.5]),
        (7, [46.0, 46.0]),                       # far outlier
    ]
    df = spark.createDataFrame(pts, "series_id long, features array<double>")
    # k=6 (= n-1): every neighborhood spans the whole corpus, so LOF ~ 1
    # for everyone — but NO row may drop (the old rank==k bug)
    got6 = {r["series_id"]: r for r in knn_lof(df, k=6).collect()}
    assert len(got6) == 7, f"dropped rows: {sorted(set(range(1,8)) - set(got6))}"
    # k=4: cluster neighborhoods stay inside the cluster and the planted
    # outlier scores the maximum, duplicates included in the output
    got = {r["series_id"]: r for r in knn_lof(df, k=4).collect()}
    assert len(got) == 7
    lofs = {i: r["lof"] for i, r in got.items()}
    assert max(lofs, key=lofs.get) == 7 and lofs[7] > 2.0


@pytest.mark.parametrize("metric", ["lcss", "edr", "erp", "twed", "msm"])
@pytest.mark.slow
def test_knn_strategies_agree_multichannel(spark, metric):
    """r7 (VERDICT r6 #6): MULTICHANNEL input (array<array<double>>, one
    channel-vector per timestep) through every strategy — the broadcast
    Catalyst expression (the `multichannel` independent-channel-sum
    lifter), the 3-D kernel (`_channel_sum`), and chunked block cells
    return the SAME ranked neighbors bitwise: each channel's DP is
    order-independent and the channel fold is the identical ascending
    left fold on both sides."""
    rng = np.random.default_rng(11)
    train = spark.createDataFrame(
        [
            (i, [[float(x) for x in rng.uniform(0, 100, 2)] for _ in range(12)],
             f"c{i % 3}")
            for i in range(30)
        ],
        "series_id long, features array<array<double>>, label string",
    )
    test = spark.createDataFrame(
        [
            (100 + i, [[float(x) for x in rng.uniform(0, 100, 2)] for _ in range(12)],
             "t")
            for i in range(8)
        ],
        "series_id long, features array<array<double>>, label string",
    )
    base = None
    for strategy in ("broadcast", "shuffle", "kernel", "chunked"):
        got = sorted(
            (r["test_id"], r["rank"], r["train_id"], r["distance"])
            for r in knn_join(
                test, train, metric=metric, k=4, strategy=strategy
            ).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base, f"{metric}: {strategy} diverged from broadcast"


def test_multichannel_sum_equals_per_channel_flat(spark):
    """The lift IS the independent-channel sum: multichannel distance ==
    sum of flat per-channel distances (kernel and expression), and a
    1-channel nested series degenerates to the flat metric exactly."""
    rng = np.random.default_rng(12)
    A = rng.uniform(0, 100, (6, 10, 3))
    B = rng.uniform(0, 100, (6, 10, 3))
    for fn in (lcss_batch, edr_batch, erp_batch, twed_batch, msm_batch):
        mc = fn(A, B)
        flat = np.zeros(6)
        for c in range(3):
            flat = flat + fn(A[:, :, c], B[:, :, c])
        assert np.array_equal(mc, flat), fn
    # expression side: 2-channel nested vs explicit per-channel flat sum
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        multichannel,
    )

    rows = [
        (
            [[float(x) for x in rng.uniform(0, 100, 2)] for _ in range(8)],
            [[float(x) for x in rng.uniform(0, 100, 2)] for _ in range(8)],
        )
        for _ in range(5)
    ]
    df = spark.createDataFrame(
        rows, "a array<array<double>>, b array<array<double>>"
    )
    got = df.select(
        multichannel(twed_dist)(F.col("a"), F.col("b")).alias("mc"),
        (
            F.lit(0.0)
            + twed_dist(
                F.transform("a", lambda t: F.element_at(t, F.lit(1))),
                F.transform("b", lambda t: F.element_at(t, F.lit(1))),
            )
            + twed_dist(
                F.transform("a", lambda t: F.element_at(t, F.lit(2))),
                F.transform("b", lambda t: F.element_at(t, F.lit(2))),
            )
        ).alias("flat"),
    ).collect()
    for r in got:
        assert r["mc"] == r["flat"]


def test_edit_c_kernel_matches_numpy_bitwise():
    """r7: the compiled row-by-row C recurrences (functions/edit_c.py)
    must equal the anti-diagonal numpy cores BITWISE — same per-cell op
    DAG, different evaluation order, which by the family's construction
    cannot change any cell. Random shapes incl. length-1 sides, tie-heavy
    integer data, and custom params."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import edit_c
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        _dp_in_chunks,
        _edr_batch_core,
        _erp_batch_core,
        _lcss_batch_core,
        _msm_batch_core,
        _twed_batch_core,
    )

    if not edit_c.available():
        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(17)
    for trial in range(40):
        n = int(rng.integers(1, 48))
        m = int(rng.integers(1, 48))
        P = int(rng.integers(1, 24))
        if trial % 3 == 2:  # tie-heavy
            A = rng.integers(0, 3, size=(P, n)).astype(float)
            B = rng.integers(0, 3, size=(P, m)).astype(float)
        else:
            A = rng.normal(size=(P, n)) * 4
            B = rng.normal(size=(P, m)) * 4
        eps = float(rng.uniform(0, 2))
        delta = None if trial % 2 else int(rng.integers(0, 5))
        g = float(rng.uniform(-1, 1))
        nu, lam = float(rng.uniform(0, 0.5)), float(rng.uniform(0, 2))
        c = float(rng.uniform(0, 1.5))
        pairs = [
            (edit_c.lcss_batch_c(A, B, eps, delta),
             _dp_in_chunks(A, B, _lcss_batch_core, eps, delta)),
            (edit_c.edr_batch_c(A, B, eps),
             _dp_in_chunks(A, B, _edr_batch_core, eps)),
            (edit_c.erp_batch_c(A, B, g),
             _dp_in_chunks(A, B, _erp_batch_core, g)),
            (edit_c.twed_batch_c(A, B, nu, lam),
             _dp_in_chunks(A, B, _twed_batch_core, nu, lam)),
            (edit_c.msm_batch_c(A, B, c),
             _dp_in_chunks(A, B, _msm_batch_core, c)),
        ]
        for idx, (got, ref) in enumerate(pairs):
            assert np.array_equal(got, ref), (trial, idx, n, m, P)


def test_multichannel_empty_side_returns_null(spark):
    """The lifter guards the channel-count read (an empty series has no
    first timestep; unguarded, sequence(1, size(NULL)) would DESCEND —
    the repo invariant) -> NULL, mirroring the flat metrics."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        multichannel,
    )

    df = spark.createDataFrame(
        [([[1.0, 2.0]], []), ([], [[1.0, 2.0]]), ([], [])],
        "a array<array<double>>, b array<array<double>>",
    )
    got = df.select(multichannel(twed_dist)(F.col("a"), F.col("b")).alias("d")).collect()
    assert all(r["d"] is None for r in got), got


def test_knn_lof_multichannel_elastic_planted_outlier(spark):
    """r7: LOF composes with the multichannel edit-metric dispatch (the
    knn_join plumbing is shared) — a planted 2-channel outlier must get
    the top LOF score under multichannel TWED, and the kernel strategy
    must return the same neighbor-rank sets as the broadcast expression
    (edit DPs are order-independent per cell, so even the floats agree)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_lof

    rng = np.random.default_rng(23)
    rows = []
    for i in range(24):
        base = rng.uniform(0, 10, (10, 2))
        rows.append((i, [[float(v) for v in t] for t in base]))
    far = [[500.0 + float(t), 900.0 - float(t)] for t in range(10)]
    rows.append((99, far))
    df = spark.createDataFrame(rows, "series_id long, features array<array<double>>")
    got_b = {r["series_id"]: r for r in knn_lof(df, k=4, metric="twed").collect()}
    top = max(got_b.values(), key=lambda r: r["lof"])
    assert top["series_id"] == 99, top
    assert top["lof"] > 2.0, top
    got_k = {
        r["series_id"]: r
        for r in knn_lof(df, k=4, metric="twed", strategy="kernel").collect()
    }
    assert {i: (r["kdist"], r["lrd"], r["lof"]) for i, r in got_b.items()} == {
        i: (r["kdist"], r["lrd"], r["lof"]) for i, r in got_k.items()
    }


@pytest.mark.slow
def test_knn_lb_metric_equals_brute(spark):
    """r7: knn_join_lb_metric (triangle-inequality anchor pruning) must
    return BIT-IDENTICAL rows to brute knn_join for every true metric —
    including on duplicate-heavy, tie-heavy integer data (the regime
    where bounds collapse to zero and phase 3 has to escalate widely) and
    with a tiny candidate budget (correctness must never depend on C)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb_metric,
    )

    rng = np.random.default_rng(41)
    rows_t = [
        (i, [float(x) for x in rng.integers(0, 4, 10) * 10.0], f"c{i % 2}")
        for i in range(30)
    ]
    rows_q = [
        (100 + i, [float(x) for x in rng.integers(0, 4, 10) * 10.0], "t")
        for i in range(8)
    ]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)
    for metric in ("erp", "twed", "msm"):
        for C in (1, 4):
            got = sorted(
                (r.test_id, r.rank, r.train_id, r.distance, r.train_label)
                for r in knn_join_lb_metric(
                    test, train, metric=metric, k=3, candidates_per_test=C
                ).collect()
            )
            want = sorted(
                (r.test_id, r.rank, r.train_id, r.distance, r.train_label)
                for r in knn_join(test, train, metric=metric, k=3).collect()
            )
            assert got == want, (metric, C)


def test_knn_lb_metric_rejects_non_metrics(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb_metric,
    )

    df = spark.createDataFrame(
        [(0, [1.0], "a")], "series_id long, features array<double>, label string"
    )
    for bad in ("lcss", "edr", "euclidean", "dtw"):
        with pytest.raises(ValueError, match="triangle"):
            knn_join_lb_metric(df, df, metric=bad)


def test_anchor_bound_admissible_fuzz():
    """The anchor bound |d(a,z) - d(b,z)| <= d(a,b) on random RAGGED
    pairs for all three metrics — the empirical leg of the published
    metric theorems the pruning relies on (cross-length triples, which
    the same-length triangle fuzz doesn't cover)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        ERP_GAP,
        erp_batch,
        msm_batch,
        twed_batch,
    )

    rng = np.random.default_rng(43)
    z = np.zeros((1, 1))
    for _ in range(300):
        n, m = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        a = rng.uniform(-20, 20, (1, n))
        b = rng.uniform(-20, 20, (1, m))
        for fn in (erp_batch, twed_batch, msm_batch):
            if fn is erp_batch:
                ra = abs(a[0] - ERP_GAP).sum()
                rb = abs(b[0] - ERP_GAP).sum()
            else:
                ra, rb = fn(a, z)[0], fn(b, z)[0]
            d = fn(a, b)[0]
            assert abs(ra - rb) <= d + 1e-9, (fn, n, m, ra, rb, d)


def test_knn_lb_metric_all_zero_candidates_degrade_to_brute(spark):
    """ADVICE r8 (medium): with exclude_zero=True, a test whose top-C
    candidates ALL score exactly 0 (duplicate-heavy corpora: LB=0
    duplicates sort first) used to vanish from thresh, and the phase-3
    inner join then dropped its every pair — the test emitted NO rows
    where brute force returns its non-zero neighbors. The left-join +
    coalesce(tau, inf) fix must degrade such tests to brute force."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb_metric,
    )

    base = [1.0, 2.0, 3.0, 1.0, 2.0]
    # train: 6 exact duplicates of the test series (distance 0, LB 0,
    # smallest ids -> they fill the whole C=4 candidate set) + 3 distinct
    rows_t = [(i, base, "dup") for i in range(6)] + [
        (10, [5.0, 1.0, 4.0, 2.0, 9.0], "a"),
        (11, [0.0, 7.0, 1.0, 8.0, 3.0], "b"),
        (12, [2.0, 2.0, 2.0, 2.0, 2.0], "c"),
    ]
    rows_q = [(100, base, "t")]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)
    for metric in ("erp", "twed", "msm"):
        got = sorted(
            (r.test_id, r.rank, r.train_id, round(r.distance, 9), r.train_label)
            for r in knn_join_lb_metric(
                test, train, metric=metric, k=2, candidates_per_test=4
            ).collect()
        )
        want = sorted(
            (r.test_id, r.rank, r.train_id, round(r.distance, 9), r.train_label)
            for r in knn_join(test, train, metric=metric, k=2).collect()
        )
        assert got and got == want, (metric, got, want)


def test_edit_c_rejects_empty_series_and_caches_privately():
    """ADVICE r8: the C recurrences index a[0]/b[0] unconditionally, so
    the wrappers must reject n==0 / m==0 before the kernel (heap OOB
    otherwise), _flat_dp must route empties to the numpy cores, and the
    published .so must live in a per-user 0700 directory, not at a
    predictable world-writable temp path."""
    import os
    import stat
    import tempfile

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import edit_c

    if not edit_c.available():
        pytest.skip("no C compiler in this environment")
    A = np.zeros((2, 0))
    B = np.ones((2, 4))
    with pytest.raises(ValueError, match="n >= 1"):
        edit_c.twed_batch_c(A, B, 0.001, 1.0)
    with pytest.raises(ValueError, match="n >= 1"):
        edit_c.msm_batch_c(B, A, 0.5)
    d = edit_c._private_cache_dir()
    st = os.stat(d)
    assert st.st_uid == os.getuid()
    assert not (st.st_mode & 0o077), oct(st.st_mode)
    assert os.path.dirname(d) == tempfile.gettempdir()
    # the published .so actually lives there
    sos = [f for f in os.listdir(d) if f.startswith("tsknn_edit_") and f.endswith(".so")]
    assert sos


def test_multichannel_channel_mismatch_raises(spark):
    """ADVICE r8: the multichannel lifter reads the channel count from the
    test side's first timestep; a train row with a different channel count
    must raise loudly (matching the kernel path's _channel_sum ValueError)
    instead of silently ignoring extra channels."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        multichannel,
        twed_dist,
    )

    df = spark.createDataFrame(
        [([[1.0, 2.0], [3.0, 4.0]], [[1.0, 2.0, 9.0], [3.0, 4.0, 9.0]])],
        "a array<array<double>>, b array<array<double>>",
    )
    mc = multichannel(twed_dist)
    with pytest.raises(Exception, match="channel mismatch"):
        df.select(mc(F.col("a"), F.col("b")).alias("d")).collect()
    # matched channels still work (2ch == sum of per-channel flats)
    ok = spark.createDataFrame(
        [([[1.0, 2.0], [3.0, 4.0]], [[1.0, 2.0], [3.0, 5.0]])],
        "a array<array<double>>, b array<array<double>>",
    )
    got = ok.select(mc(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    want = ok.select(
        (
            twed_dist(F.array(F.lit(1.0), F.lit(3.0)), F.array(F.lit(1.0), F.lit(3.0)))
            + twed_dist(F.array(F.lit(2.0), F.lit(4.0)), F.array(F.lit(2.0), F.lit(5.0)))
        ).alias("d")
    ).collect()[0].d
    assert got == want


def test_edit_mc_c_entry_bitwise_equals_channel_loop():
    """r8 (VERDICT r7 #3): the (P, L, C) C entry points must be
    bit-identical to the Python per-channel loop over the flat kernels
    (and therefore to the numpy cores and the Column lifter) for all five
    metrics — same strided DP core, same ascending-channel fold from 0.0."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import edit_c
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (
        edit_distance as ed,
    )

    if not edit_c.available():
        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(83)
    for P, L, M, C in [(40, 17, 13, 1), (40, 17, 13, 4), (7, 5, 9, 3)]:
        A = rng.normal(0.0, 40.0, (P, L, C))
        B = rng.normal(0.0, 40.0, (P, M, C))
        cases = [
            (edit_c.lcss_mc_batch_c, edit_c.lcss_batch_c, (10.0, 3)),
            (edit_c.edr_mc_batch_c, edit_c.edr_batch_c, (10.0,)),
            (edit_c.erp_mc_batch_c, edit_c.erp_batch_c, (0.0,)),
            (edit_c.twed_mc_batch_c, edit_c.twed_batch_c, (0.05, 1.0)),
            (edit_c.msm_mc_batch_c, edit_c.msm_batch_c, (0.5,)),
        ]
        for mc_fn, flat_fn, args in cases:
            got = mc_fn(A, B, *args)
            want = ed._channel_sum(A, B, lambda a, b: flat_fn(a, b, *args))
            assert np.array_equal(got, want), (mc_fn.__name__, P, L, M, C)
    # channel mismatch rejected at the wrapper, like _channel_sum
    with pytest.raises(ValueError, match="channel mismatch"):
        edit_c.twed_mc_batch_c(
            rng.normal(size=(3, 5, 2)), rng.normal(size=(3, 5, 3)), 0.05, 1.0
        )
    # _mc_dp public route: batch fns on 3-D input hit the mc kernel and
    # still equal the numpy channel loop
    A3 = rng.normal(0.0, 40.0, (12, 9, 2))
    B3 = rng.normal(0.0, 40.0, (12, 9, 2))
    got = ed.twed_batch(A3, B3)
    want = ed._channel_sum(A3, B3, lambda a, b: ed._twed_batch_core(a, b))
    assert np.array_equal(got, want)


@pytest.mark.slow
def test_knn_lb_metric_multichannel_equals_brute(spark):
    """r8: knn_join_lb_metric(channels=N) — the anchor bound holds for the
    independent-channel-sum lift (a sum of metrics is a metric; ref =
    summed per-channel anchor distances), so the pruned plan must return
    brute knn_join's rows on nested input for every true metric, with and
    without the prune gate."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb_metric,
    )

    rng = np.random.default_rng(11)
    mk = lambda: [[float(a), float(b)] for a, b in rng.integers(0, 5, (8, 2)) * 10]
    rows_t = [(i, mk(), f"c{i % 2}") for i in range(20)]
    rows_q = [(100 + i, mk(), "t") for i in range(5)]
    schema = "series_id long, features array<array<double>>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)
    for metric in ("erp", "twed", "msm"):
        want = sorted(
            (r.test_id, r.rank, r.train_id, round(r.distance, 9))
            for r in knn_join(
                test, train, metric=metric, k=3, strategy="kernel"
            ).collect()
        )
        for kw in (dict(), dict(min_prune_rate=0.05)):
            got = sorted(
                (r.test_id, r.rank, r.train_id, round(r.distance, 9))
                for r in knn_join_lb_metric(
                    test, train, metric=metric, k=3, channels=2,
                    candidates_per_test=4, **kw
                ).collect()
            )
            assert got and got == want, (metric, kw)
    # flat/nested mismatch still rejected
    flat = spark.createDataFrame(
        [(0, [1.0, 2.0], "a")], "series_id long, features array<double>, label string"
    )
    with pytest.raises(ValueError, match="mismatch"):
        knn_join_lb_metric(flat, train, metric="twed", channels=2)
    with pytest.raises(ValueError, match="channels"):
        knn_join_lb_metric(test, train, metric="twed")
