"""KNN operator tests: tie-break parity with the reference's heapq/Counter
semantics, self-exclusion, strategy equivalence, end-to-end accuracy floor."""

import heapq
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import batch_kernel
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    accuracy,
    knn_classify,
    knn_join,
    knn_predict_1nn,
    majority_vote,
)


def _py_reference_knn(train_rows, test_rows, k):
    """Reference semantics in pure Python (Team11-Project.py:166-199):
    per-test heapq.nsmallest(k) over (distance, label), dist != 0 excluded,
    Counter.most_common vote with insertion (distance) order tie-break."""
    preds = {}
    for tid, tf, _ in test_rows:
        dists = []
        for rid, rf, rl in train_rows:
            d = float(np.linalg.norm(np.array(tf) - np.array(rf)))
            if d != 0:
                dists.append((d, rl))
        top = heapq.nsmallest(k, dists)
        preds[tid] = Counter(l for _, l in top).most_common(1)[0][0]
    return preds


def test_knn_matches_python_reference(spark, har_dfs):
    train_df, test_df = har_dfs
    train_rows = [(r.series_id, r.features, r.label) for r in train_df.collect()]
    test_rows = [(r.series_id, r.features, r.label) for r in test_df.collect()]
    expected = _py_reference_knn(train_rows, test_rows, k=5)
    got = {
        r.test_id: r.predicted_label
        for r in knn_classify(test_df, train_df, metric="euclidean", k=5).collect()
    }
    assert got == expected


@pytest.mark.slow
def test_strategies_agree(spark, har_dfs):
    train_df, test_df = har_dfs
    a = knn_join(test_df, train_df, k=3, strategy="broadcast").collect()
    b = knn_join(test_df, train_df, k=3, strategy="shuffle").collect()
    key = lambda r: (r.test_id, r.rank)
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[4])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[4])
    )


def test_self_exclusion(spark):
    # a test series identical to a train series: zero distance excluded
    rows = [(1, [1.0, 2.0], 1.0), (2, [9.0, 9.0], 2.0)]
    train = spark.createDataFrame(rows, "series_id long, features array<double>, label double")
    test = spark.createDataFrame([(10, [1.0, 2.0], 1.0)], "series_id long, features array<double>, label double")
    nn = knn_join(test, train, k=5).collect()
    assert [r.train_id for r in nn] == [2]
    nn2 = knn_join(test, train, k=5, exclude_zero=False).collect()
    assert [r.train_id for r in sorted(nn2, key=lambda r: r.rank)] == [1, 2]


def test_topk_tiebreak_distance_then_label(spark):
    # two train rows equidistant from the test row -> label asc wins rank 1
    train = spark.createDataFrame(
        [(1, [0.0, 1.0], 5.0), (2, [1.0, 0.0], 3.0), (3, [4.0, 4.0], 1.0)],
        "series_id long, features array<double>, label double",
    )
    test = spark.createDataFrame([(10, [0.0, 0.0], 0.0)], "series_id long, features array<double>, label double")
    nn = sorted(knn_join(test, train, k=2).collect(), key=lambda r: r.rank)
    assert [r.train_label for r in nn] == [3.0, 5.0]


def test_vote_tiebreak_best_rank(spark):
    # 2 votes each; label B holds the nearest neighbor -> B wins (Counter
    # insertion-order semantics)
    rows = [
        (1, "B", 1), (1, "A", 2), (1, "A", 3), (1, "B", 4),
    ]
    df = spark.createDataFrame(rows, "test_id long, train_label string, rank int")
    got = majority_vote(df).collect()
    assert got[0].predicted_label == "B"


def test_1nn_matches_k1_classify(spark, har_dfs):
    train_df, test_df = har_dfs
    via_minby = {
        r.test_id: r.predicted_label
        for r in knn_predict_1nn(test_df, train_df, metric="euclidean").collect()
    }
    via_window = {
        r.test_id: r.predicted_label
        for r in knn_classify(test_df, train_df, metric="euclidean", k=1).collect()
    }
    assert via_minby == via_window


@pytest.mark.parametrize("metric", ["euclidean", "fastdtw"])
def test_end_to_end_accuracy_floor(spark, har_dfs, metric):
    train_df, test_df = har_dfs
    pred = knn_classify(test_df, train_df, metric=metric, k=3)
    truth = test_df.withColumnRenamed("series_id", "test_id")
    row = accuracy(pred, truth, key="test_id").collect()[0]
    assert row.n_rows == test_df.count()
    assert row.accuracy >= 0.9, f"{metric} accuracy {row.accuracy}"


def test_dtw_knn_matches_fastdtw_reference_semantics(spark, har_dfs):
    """Predictions from the banded-DTW metric equal a pure-Python
    fastdtw(radius=1)-based reference KNN on separable data."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        fastdtw_pair,
    )

    train_df, test_df = har_dfs
    train_rows = [(r.series_id, r.features, r.label) for r in train_df.collect()][:40]
    test_rows = [(r.series_id, r.features, r.label) for r in test_df.collect()][:10]
    train_small = spark.createDataFrame(train_rows, "series_id long, features array<double>, label double")
    test_small = spark.createDataFrame(test_rows, "series_id long, features array<double>, label double")

    preds = {}
    for tid, tf, _ in test_rows:
        dists = []
        for rid, rf, rl in train_rows:
            d = fastdtw_pair(tf, rf, radius=1)
            if d != 0:
                dists.append((d, rl))
        top = heapq.nsmallest(3, dists)
        preds[tid] = Counter(l for _, l in top).most_common(1)[0][0]

    got = {
        r.test_id: r.predicted_label
        for r in knn_classify(test_small, train_small, metric="fastdtw", k=3).collect()
    }
    assert got == preds


# ---------------------------------------------------------------------------
# knn_join_lb: admissible lower-bound filter-and-verify (exact pruned KNN)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "kw",
    [
        dict(metric="dtw"),
        dict(metric="fastdtw"),
        dict(metric="dtw", band=3),
        dict(metric="fastdtw", band=2),  # band overrides to banded DTW
        dict(metric="fastdtw", fastdtw_radius=2),
    ],
    ids=["dtw", "fastdtw", "dtw-banded", "fastdtw-band-override", "fastdtw-r2"],
)
def test_knn_join_lb_exact_vs_brute(spark, har_dfs, kw):
    """The filter-and-verify plan must be bit-identical to brute force under
    every metric mode — admissibility of the LB chain makes phase 3
    complete, so no candidate budget can change the answer."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join_lb

    train_df, test_df = har_dfs
    length = 24
    a = knn_join_lb(test_df, train_df, k=4, length=length, candidates_per_test=6, **kw)
    b = knn_join(test_df, train_df, k=4, **kw)
    key = lambda r: (r.test_id, r.rank)
    ra = [(r.test_id, r.train_id, r.rank, round(r.distance, 9)) for r in sorted(a.collect(), key=key)]
    rb = [(r.test_id, r.train_id, r.rank, round(r.distance, 9)) for r in sorted(b.collect(), key=key)]
    assert ra == rb


def test_knn_join_lb_k_exceeds_train(spark, har_dfs):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join_lb

    train_df, test_df = har_dfs
    small = train_df.limit(3)
    a = knn_join_lb(test_df, small, k=10, length=24, metric="dtw")
    b = knn_join(test_df, small, k=10, metric="dtw")
    key = lambda r: (r.test_id, r.rank)
    assert sorted(((r.test_id, r.train_id, r.rank) for r in a.collect())) == sorted(
        ((r.test_id, r.train_id, r.rank) for r in b.collect())
    )


@pytest.mark.parametrize(
    "entry, kw",
    [
        ("knn_join", dict(k=0)),
        ("knn_join", dict(k=0, strategy="kernel")),
        ("knn_join_pruned", dict(k=0, length=24)),
        ("knn_join_pruned", dict(k=2, length=24, candidates_per_test=0)),
        ("knn_join_lb", dict(k=0, length=24, metric="dtw")),
        ("knn_join_lb_metric", dict(k=0)),
    ],
    ids=["join", "join-kernel", "pruned", "pruned-C0", "lb", "lb-metric"],
)
def test_knn_entry_points_reject_nonpositive_k(spark, har_dfs, entry, kw):
    """k (and the pruned candidate budget) must be >= 1: a zero budget
    used to return an empty result silently."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark import operators

    train_df, test_df = har_dfs
    with pytest.raises(ValueError, match=r"must be >= 1, got 0"):
        getattr(operators, entry)(test_df, train_df, **kw)


@pytest.mark.parametrize(
    "entry, kw",
    [
        ("ann_brute_topk", {}),
        ("ann_brute_topk", dict(strategy="kernel")),
        ("ann_quantized_topk", {}),
        ("ann_ivf_topk", {}),
        ("ann_lsh_topk", dict(dim=16)),
        ("ann_pq_topk", dict(dim=16)),
        ("ann_ivfpq_topk", dict(dim=16)),
    ],
    ids=["brute", "brute-kernel", "quantized", "ivf", "lsh", "pq", "ivfpq"],
)
def test_ann_entry_points_reject_nonpositive_k(spark, emb, entry, kw):
    """The ANN family shares the KNN k >= 1 guard: k=0 used to return 0
    rows silently."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark import operators

    with pytest.raises(ValueError, match=r"k must be >= 1, got 0"):
        getattr(operators, entry)(emb, emb, k=0, **kw)


def test_ivfpq_search_rejects_nonpositive_k(spark, emb):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import ivfpq_search

    with pytest.raises(ValueError, match=r"k must be >= 1, got 0"):
        ivfpq_search(emb, {}, emb, k=0, dim=16)


@pytest.mark.parametrize("entry", ["score_stream", "score_stream_stateless"])
@pytest.mark.parametrize(
    "kw, match",
    [
        # k = 0 used to yield a NULL prediction, k < 0 a run-time failure
        ({"k": 0}, r"k must be >= 1, got 0"),
        ({"k": -2}, r"k must be >= 1, got -2"),
        # an unknown metric used to raise a bare KeyError
        ({"metric": "nope"}, r"unknown metric 'nope'; have \[.*'euclidean'.*\]"),
    ],
)
def test_stream_scoring_validates_up_front(spark, har_dfs, entry, kw, match):
    """Both streaming scorers reject a bad k or metric with a ValueError
    before any plan is built."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark import streaming

    train_df, test_df = har_dfs
    with pytest.raises(ValueError, match=match):
        getattr(streaming, entry)(test_df, train_df, **kw)


def _knn_call(metric, strategy, **kw):
    def call(spark):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0, 2.0, float(i % 3)], "a") for i in range(6)],
            "series_id long, features array<double>, label string",
        )
        knn_join(df, df, metric=metric, k=2, strategy=strategy, **kw)

    return call


def _kernel_call(name, **kw):
    def call(_spark):
        from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import dtw_kernel

        A = np.random.default_rng(0).normal(size=(4, 16))
        fn = getattr(dtw_kernel, name)
        fn(*((A, A[::-1]) if name.endswith("batch") else (A[0], A[1])), **kw)

    return call


@pytest.mark.parametrize(
    "call",
    [
        _kernel_call("dtw_batch", band=-1),
        _kernel_call("dtw_pair", band=-1),
        _kernel_call("fastdtw_batch", radius=-1),
        _kernel_call("fastdtw_pair", radius=-1),
        lambda _spark: batch_kernel("dtw", band=-1),
        lambda _spark: batch_kernel("fastdtw", radius=-1),
        lambda _spark: batch_kernel("fastdtw", band=-2),
        _knn_call("dtw", "kernel", band=-1),
        _knn_call("dtw", "broadcast", band=-1),
        _knn_call("fastdtw", "kernel", fastdtw_radius=-1),
        _knn_call("fastdtw", "broadcast", fastdtw_radius=-1),
    ],
    ids=[
        "dtw_batch", "dtw_pair", "fastdtw_batch", "fastdtw_pair",
        "batch_kernel-dtw", "batch_kernel-fastdtw", "batch_kernel-fastdtw-band",
        "knn-dtw-kernel", "knn-dtw-broadcast", "knn-fastdtw-kernel",
        "knn-fastdtw-broadcast",
    ],
)
def test_negative_band_and_radius_rejected(spark, call):
    """A negative warp window is an error everywhere: the compiled dtw_batch
    used to return unconstrained DTW, dtw_pair inf, and a negative FastDTW
    radius never terminated (a Spark task hung)."""
    with pytest.raises(ValueError, match=r"(band|radius) must be >= 0, got -"):
        call(spark)


def test_knn_join_lb_rejects_unsupported_metric(spark, har_dfs):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join_lb

    train_df, test_df = har_dfs
    with pytest.raises(ValueError, match="dtw"):
        knn_join_lb(test_df, train_df, k=3, length=24, metric="euclidean")


def test_lb_envelope_admissible_numpy():
    """Property check of the bound itself (numpy twin of the SQL expr):
    LB_paa <= exact DTW for the unconstrained global envelope, and
    LB_paa(banded) <= banded DTW — on random-walk pairs where warping is
    adversarial."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        dtw_pair,
    )

    rng = np.random.default_rng(3)
    length, nseg = 32, 8
    seg_w = (length - 2) // nseg
    for band in (None, 3):
        r_env = band if band is not None else length
        for _ in range(25):
            q = np.cumsum(rng.standard_normal(length))
            c = np.cumsum(rng.standard_normal(length))
            lb = abs(q[0] - c[0]) + abs(q[-1] - c[-1])
            for b in range(nseg):
                s = 1 + b * seg_w  # 0-based middle start
                blk = c[s : s + seg_w]
                lo = max(0, s - r_env)
                hi = min(length, s + seg_w + r_env)
                u, l = q[lo:hi].max(), q[lo:hi].min()
                mu = blk.mean()
                lb += seg_w * max(0.0, mu - u, l - mu)
            d = dtw_pair(q, c, band=band)
            assert lb <= d + 1e-9, (band, lb, d)


def test_wrappers_forward_fastdtw_radius(spark):
    """knn_classify / knn_predict_1nn / knn_join_pruned accept and forward
    fastdtw_radius (r3: previously only knn_join did — a non-default radius
    silently degraded to radius=1 through the wrappers)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_classify,
        knn_join,
        knn_join_pruned,
        knn_predict_1nn,
    )

    rows_tr = [(i, [float((i * 7 + j * 3) % 11) for j in range(24)], "a" if i % 2 else "b")
               for i in range(12)]
    rows_te = [(100 + i, [float((i * 5 + j * 2) % 13) for j in range(24)], None)
               for i in range(4)]
    tr = spark.createDataFrame(rows_tr, "series_id long, features array<double>, label string")
    te = spark.createDataFrame(rows_te, "series_id long, features array<double>, label string")
    # radius must actually reach the kernel: classify via the wrapper must
    # equal classify built from knn_join at the same radius, for a radius
    # where join results differ from radius=1
    for radius in (1, 3):
        got = {r.test_id: r.predicted_label
               for r in knn_classify(te, tr, metric="fastdtw", k=3,
                                     fastdtw_radius=radius).collect()}
        from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import majority_vote
        exp = {r.test_id: r.predicted_label
               for r in majority_vote(
                   knn_join(te, tr, metric="fastdtw", k=3, fastdtw_radius=radius),
                   key="test_id", label="train_label", rank="rank").collect()}
        assert got == exp
    # distances via 1nn differ between radius 1 and a big radius only if
    # forwarding works; at minimum the call must not raise and must agree
    # with knn_join's rank-1 row at the same radius
    one = {r.test_id: r.distance
           for r in knn_predict_1nn(te, tr, metric="fastdtw", fastdtw_radius=3).collect()}
    j = knn_join(te, tr, metric="fastdtw", k=1, fastdtw_radius=3).collect()
    exp = {r.test_id: r.distance for r in j}
    assert {k: round(v, 9) for k, v in one.items()} == {k: round(v, 9) for k, v in exp.items()}
    # pruned accepts it too
    n = knn_join_pruned(te, tr, metric="fastdtw", k=2, length=24,
                        candidates_per_test=6, fastdtw_radius=3).count()
    assert n > 0


@pytest.mark.slow
def test_multichannel_knn_strategies_agree(spark):
    """Multichannel series (array<array<double>>) through knn_join: the
    broadcast, shuffle and kernel strategies must produce identical
    neighbor sets (the kernel path stacks (batch, length, channels) and
    runs the multivariate DP — golden-tested in test_dtw_kernel; here the
    three PLANS are pinned equal on the operator surface)."""
    rng = np.random.default_rng(17)
    rows = [
        (
            i,
            [[float(x) for x in rng.normal(size=2)] for _ in range(10)],
            "ab"[i % 2],
        )
        for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "series_id long, features array<array<double>>, label string"
    )
    test, train = df.filter("series_id < 6"), df.filter("series_id >= 6")
    outs = []
    for strategy in ("broadcast", "shuffle", "kernel"):
        nn = knn_join(
            test, train, metric="dtw", band=2, k=3, strategy=strategy
        ).select("test_id", "train_id", "rank", F.round("distance", 9).alias("d"))
        outs.append(sorted(map(tuple, nn.collect())))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 6 * 3


def test_multichannel_kernel_rejects_non_dtw_metric(spark):
    rows = [(i, [[1.0, 2.0]] * 4, "a") for i in range(4)]
    df = spark.createDataFrame(
        rows, "series_id long, features array<array<double>>, label string"
    )
    with pytest.raises(ValueError, match="multichannel"):
        knn_join(df, df, metric="euclidean", k=2, strategy="kernel").collect()


def test_multichannel_pruned_paths_require_channels(spark):
    """r6 (VERDICT r5 #5): nested input is now SUPPORTED by the pruned/LB
    paths, but needs the fixed channel count (sketches unroll per channel
    at plan time) — omitting it must fail loudly, not run univariate code."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb,
        knn_join_pruned,
    )

    rows = [(i, [[1.0, 2.0]] * 8, "a") for i in range(6)]
    df = spark.createDataFrame(
        rows, "series_id long, features array<array<double>>, label string"
    )
    with pytest.raises(ValueError, match="channels"):
        knn_join_pruned(df, df, metric="fastdtw", k=2, length=8)
    with pytest.raises(ValueError, match="channels"):
        knn_join_lb(df, df, metric="dtw", k=2, length=8, band=2)
    # nested + non-DTW metric stays rejected (kernel rule)
    with pytest.raises(ValueError, match="multichannel"):
        knn_join_pruned(df, df, metric="euclidean", k=2, length=8, channels=2)


def test_multichannel_train_side_alone_rejected(spark):
    """ADVICE r4: a multichannel TRAIN side paired with a flat test side
    must hit the same clear guard as a multichannel test side — not an
    opaque failure inside the univariate PAA/envelope code."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb,
        knn_join_pruned,
    )

    flat = spark.createDataFrame(
        [(i, [float(i)] * 8, "a") for i in range(6)],
        "series_id long, features array<double>, label string",
    )
    mc = spark.createDataFrame(
        [(i, [[1.0, 2.0]] * 8, "a") for i in range(6)],
        "series_id long, features array<array<double>>, label string",
    )
    with pytest.raises(ValueError, match="mismatch"):
        knn_join_pruned(flat, mc, metric="fastdtw", k=2, length=8, channels=2)
    with pytest.raises(ValueError, match="mismatch"):
        knn_join_lb(flat, mc, metric="dtw", k=2, length=8, band=2, channels=2)


@pytest.mark.slow
def test_multichannel_lb_bit_identical_to_brute_force(spark):
    """r6 (VERDICT r5 #5): multichannel knn_join_lb must return EXACTLY the
    brute-force knn_join result under dependent DTW — per-channel envelope
    bounds sum to an admissible bound on the shared-path cost, so the
    filter-and-verify chain stays lossless. Both banded and unconstrained,
    and with a deliberately starved candidate budget (correctness must not
    depend on C)."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join,
        knn_join_lb,
    )

    rng = np.random.default_rng(11)
    L, CH = 12, 2

    def mk(n, base):
        rows = []
        for i in range(n):
            pts = np.cumsum(rng.normal(size=(L, CH)), axis=0) + base
            rows.append((i + base, [[float(v) for v in p] for p in pts], str(i % 3)))
        return spark.createDataFrame(
            rows, "series_id long, features array<array<double>>, label string"
        )

    train, test = mk(20, 0), mk(6, 100)
    for band in (None, 3):
        brute = sorted(
            map(tuple, knn_join(test, train, metric="dtw", band=band, k=3).collect())
        )
        for C in (3, 8):
            lb = sorted(
                map(
                    tuple,
                    knn_join_lb(
                        test,
                        train,
                        metric="dtw",
                        band=band,
                        k=3,
                        length=L,
                        channels=CH,
                        candidates_per_test=C,
                    ).collect(),
                )
            )
            assert lb == brute, (band, C)


def test_multichannel_pruned_runs_and_ranks(spark):
    """Heuristic multichannel pruned path: full candidate budget ==
    brute force; small budget still returns k well-formed rows."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join,
        knn_join_pruned,
    )

    rng = np.random.default_rng(12)
    L, CH = 10, 3
    rows = [
        (
            i,
            [[float(v) for v in p] for p in np.cumsum(rng.normal(size=(L, CH)), axis=0)],
            str(i % 2),
        )
        for i in range(15)
    ]
    df = spark.createDataFrame(
        rows, "series_id long, features array<array<double>>, label string"
    )
    brute = sorted(map(tuple, knn_join(df, df, metric="fastdtw", k=2).collect()))
    full = sorted(
        map(
            tuple,
            knn_join_pruned(
                df, df, metric="fastdtw", k=2, length=L, channels=CH,
                candidates_per_test=15,
            ).collect(),
        )
    )
    assert full == brute
    small = knn_join_pruned(
        df, df, metric="fastdtw", k=2, length=L, channels=CH, candidates_per_test=4
    )
    assert small.count() == 30  # 15 tests x k=2


def test_knn_join_lb_all_zero_candidates_degrade_to_brute(spark):
    """ADVICE r8 (medium, latent twin of the lb_metric bug): with
    exclude_zero=True and a candidate set filled entirely by exact
    duplicates (LB=0, d=0, all excluded), thresh had no row for the test
    and the phase-3 inner join dropped every remaining pair. Left join +
    coalesce(tau, inf) must degrade to brute force instead."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join_lb

    base = [1.0, 2.0, 3.0, 1.0, 2.0, 4.0, 0.0, 2.0]
    rows_t = [(i, base, "dup") for i in range(6)] + [
        (10, [5.0, 1.0, 4.0, 2.0, 9.0, 0.0, 3.0, 7.0], "a"),
        (11, [0.0, 7.0, 1.0, 8.0, 3.0, 6.0, 2.0, 5.0], "b"),
        (12, [2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0], "c"),
    ]
    rows_q = [(100, base, "t")]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)
    for kw in (dict(metric="dtw"), dict(metric="fastdtw"), dict(metric="dtw", band=2)):
        a = knn_join_lb(test, train, k=2, length=8, candidates_per_test=4, **kw)
        b = knn_join(test, train, k=2, **kw)
        ra = sorted((r.test_id, r.rank, r.train_id, round(r.distance, 9)) for r in a.collect())
        rb = sorted((r.test_id, r.rank, r.train_id, round(r.distance, 9)) for r in b.collect())
        assert ra and ra == rb, (kw, ra, rb)


@pytest.mark.slow
def test_lb_prune_gate_bypasses_on_structureless_input(spark, monkeypatch):
    """r8 (VERDICT r7 #5): with min_prune_rate set, the sampled probe must
    route structureless input (envelope/anchor bounds prune ~nothing) to
    the brute kernel path, keep the prefilter when pruning pays, and be
    bit-identical to brute force in BOTH gate states."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join_lb,
        knn_join_lb_metric,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn as knn_mod

    calls = []
    orig = knn_mod._brute_fallback

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(knn_mod, "_brute_fallback", spy)

    rng = np.random.default_rng(5)
    # structureless: random walks — anchor distances bunch, envelopes wide
    rows_t = [(i, [float(x) for x in np.cumsum(rng.normal(0, 1, 12))], f"c{i%2}") for i in range(20)]
    rows_q = [(100 + i, [float(x) for x in np.cumsum(rng.normal(0, 1, 12))], "t") for i in range(6)]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)

    got = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join_lb_metric(
            test, train, metric="twed", k=3, min_prune_rate=0.95
        ).collect()
    )
    assert calls, "gate should have bypassed on structureless input"
    want = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join(test, train, metric="twed", k=3).collect()
    )
    assert got == want

    # UNCONSTRAINED dtw: the global (LB_Yi-style) envelope is the
    # information-weak one on random walks. (Banded LB_Keogh with band=2
    # is genuinely tight even here — the r8 tally fix, which stopped
    # counting the never-prunable phase-1 candidates in the denominator,
    # surfaced that: the old estimate was deflated by C/N by
    # construction, so the banded case used to look "structureless".)
    calls.clear()
    got_dtw = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join_lb(
            test, train, metric="dtw", k=3, length=12, min_prune_rate=0.95
        ).collect()
    )
    assert calls, "unconstrained dtw gate should have bypassed too"
    want_dtw = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join(test, train, metric="dtw", k=3).collect()
    )
    assert got_dtw == want_dtw

    # prunable input: well-separated clusters — the bound pays, gate keeps
    # the prefilter (no bypass at a modest threshold), result still exact
    calls.clear()
    rows_t2 = [(i, [float(100.0 * (i % 4)) + float(v) for v in rng.normal(0, 0.1, 12)], f"c{i%4}") for i in range(24)]
    rows_q2 = [(200 + i, [float(100.0 * (i % 4)) + float(v) for v in rng.normal(0, 0.1, 12)], "t") for i in range(4)]
    train2 = spark.createDataFrame(rows_t2, schema)
    test2 = spark.createDataFrame(rows_q2, schema)
    got2 = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join_lb_metric(
            test2, train2, metric="erp", k=3, min_prune_rate=0.10
        ).collect()
    )
    assert not calls, "separated clusters should keep the prefilter"
    want2 = sorted(
        (r.test_id, r.rank, r.train_id, round(r.distance, 9))
        for r in knn_join(test2, train2, metric="erp", k=3).collect()
    )
    assert got2 == want2


@pytest.mark.slow
def test_lb_prune_gate_probe_tolerates_short_rows(spark):
    """ADVICE r8: the probe's numpy LB twin indexes csr[length-1]
    unguarded, so a sampled row shorter than ``length`` used to raise
    IndexError on the driver and fail the whole query — while the
    un-gated plan handles short rows via element_at NULL semantics. The
    probe must now fall back to keeping the prefilter (never a new
    failure mode), and the gated result must equal the un-gated one."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join_lb

    rng = np.random.default_rng(11)
    rows_t = [
        (i, [float(x) for x in rng.normal(0, 1, 12 if i % 3 else 7)], f"c{i%2}")
        for i in range(18)
    ]
    rows_q = [(100 + i, [float(x) for x in rng.normal(0, 1, 12)], "t") for i in range(4)]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)

    # short rows are OUT OF CONTRACT for knn_join_lb (ANSI element_at
    # raises on index > size, at the builder's eager cache landing) — the
    # pin is that gated and un-gated fail IDENTICALLY with the loud Spark
    # error: pre-fix the GATED call died earlier and differently, with a
    # bare IndexError from the driver-side numpy replay (csr[length-1] on
    # a 7-element row); post-fix the probe swallows that, keeps the
    # prefilter, and the plan raises exactly what the un-gated plan raises
    import pyspark.errors as pse

    with pytest.raises(pse.exceptions.captured.ArrayIndexOutOfBoundsException):
        knn_join_lb(
            test, train, metric="dtw", band=2, k=3, length=12, min_prune_rate=0.95
        )
    with pytest.raises(pse.exceptions.captured.ArrayIndexOutOfBoundsException):
        knn_join_lb(test, train, metric="dtw", band=2, k=3, length=12)


@pytest.mark.slow
def test_estimated_prune_rate_excludes_scored_candidates(spark):
    """ADVICE r8: the C phase-1 candidates are anti-joined out of phase 3
    and can never be pruned — counting them in the denominator deflated
    the estimate. With every non-candidate provably prunable the estimate
    must be exactly 1.0 (pre-fix it was (N-C)/N), and when the sample is
    all candidates (total == 0) the probe must return None."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.knn import (
        _estimated_prune_rate,
    )

    # two tight clusters far apart: queries sit in cluster 0; LB = |sum
    # difference| separates perfectly, so every non-candidate (cluster 1)
    # has LB >> tau
    rows_t = [(i, [0.0, 0.0] if i < 6 else [500.0, 500.0], "c") for i in range(12)]
    rows_q = [(100, [0.0, 0.0], "t")]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows_t, schema)
    test = spark.createDataFrame(rows_q, schema)

    lb_np = lambda qf, feats: [abs(sum(qf) - sum(f)) for f in feats]
    dist_many = lambda qf, feats: [
        float(sum(abs(a - b) for a, b in zip(qf, f))) for f in feats
    ]

    est = _estimated_prune_rate(
        test, train, id_col="series_id", features_col="features",
        lb_np=lb_np, dist_many=dist_many, C=6, k=3, probe_n=1,
        exclude_zero=False,
    )
    assert est == 1.0

    # C >= sample size: nothing is phase-3 eligible -> None (keep filter)
    est_none = _estimated_prune_rate(
        test, train, id_col="series_id", features_col="features",
        lb_np=lb_np, dist_many=dist_many, C=50, k=3, probe_n=1,
        exclude_zero=False,
    )
    assert est_none is None

    # a raising twin must mean "keep the prefilter", never propagate
    def boom(qf, feats):
        raise IndexError("short row")

    est_err = _estimated_prune_rate(
        test, train, id_col="series_id", features_col="features",
        lb_np=boom, dist_many=dist_many, C=6, k=3, probe_n=1,
        exclude_zero=False,
    )
    assert est_err is None
