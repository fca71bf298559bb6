"""Pair-scan layer (operators/pairscan.py), fast lane: the eager SQL
executions each KNN, ANN and conformal route (and each pruned-family
call) fires while its plan is built, and that each is one Spark job with
no exchange, side_stats against numpy, an empty candidate side and NaN
ANN distances on every route against the declarative plan, n_coeffs
bounds checked before any job, the cheap grid-agreement checks (block grid vs broadcast
kernel, bit-for-bit), the scoring core's empty-result dtype, ties across
train length groups on every route, the budget guard, the Gram
filter's bit-identity with the exhaustive euclidean fold, the point
metrics' distance bits on random floats and their handling of test rows
of another length on every KNN route, NULL series on every KNN route
(dropped under exclude_zero, an error naming the side otherwise),
``plans.eager.agg_row`` against ``agg().first()``, null labels
ranked first on every KNN route, knn_join_lb's bound evaluated once per
pair, the block grid's CPU-based sizing (with a forced multi-cell grid
checked against the kernel route, and the calibration tool run at tiny
sizes), the CPU-split tool at smoke size, and the phases the grid skips:
no exchange for one cell, no cross-cell reduction when the candidate
side is not split."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    boss_classify,
    conformal_knn,
    conformal_set,
    knn_join,
    knn_join_lb,
    knn_join_lb_metric,
    knn_join_pruned,
    sfa_words,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn as knn_mod
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import batch_kernel
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.knn import (
    _group_by_length,
    _score_block_rows,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import pairscan
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import sax as sax_mod
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.pairscan import first_k
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.similarity import (
    ann_brute_topk,
    ann_quantized_topk,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans.eager import agg_row


def _collect(df):
    """Sorted rows, a NaN read as the string 'NaN' so that rows holding
    NaN compare equal (NaN != NaN)."""
    return sorted(tuple("NaN" if v != v else v for v in r) for r in df.collect())


def _eager_executions(spark, build) -> int:
    """SQL executions fired while ``build()`` runs, counted from Spark's
    SQL status store under a one-off job description."""
    sc = spark.sparkContext
    label = f"pairscan-eager:{uuid.uuid4().hex}"
    sc.setJobDescription(label)
    try:
        build()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sum(execs.apply(i).description() == label for i in range(execs.size()))


def _eager_shapes(spark, build) -> list:
    """(Spark jobs, physical plan) of each SQL execution fired while
    ``build()`` runs, read as ``_eager_executions`` reads them."""
    sc = spark.sparkContext
    label = f"pairscan-shape:{uuid.uuid4().hex}"
    sc.setJobDescription(label)
    try:
        build()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    found = [execs.apply(i) for i in range(execs.size())]
    return [
        (e.jobs().size(), e.physicalPlanDescription())
        for e in found if e.description() == label
    ]


@pytest.mark.parametrize(
    "call",
    [
        lambda q, c, te, tr: knn_join(te, tr, k=3, strategy="kernel"),
        lambda q, c, te, tr: knn_join(te, tr, k=3, strategy="kernel", max_broadcast_bytes=64),
        lambda q, c, te, tr: ann_brute_topk(q, c, k=5, strategy="kernel"),
        lambda q, c, te, tr: ann_brute_topk(q, c, k=5, strategy="kernel", max_broadcast_bytes=64),
        lambda q, c, te, tr: conformal_knn(te, tr, min_kernel_pairs=0),
        lambda q, c, te, tr: sax_mod._boss_hostile_input(tr, te, "features"),
    ],
    ids=["knn-kernel", "knn-grid", "ann-kernel", "ann-grid", "conformal-kernel", "boss-gate"],
)
def test_eager_executions_are_one_job_without_exchange(spark, har_dfs, emb, call):
    """Every eager routing execution (stats reads, candidate collects,
    cache landings) runs as one Spark job with no exchange in its plan.
    The query side is a filter, not a ``limit``, whose own plan would
    hold an exchange."""
    train_df, test_df = har_dfs
    q = emb.filter(F.col("vec_id") < 23)
    shapes = _eager_shapes(spark, lambda: call(q, emb, test_df, train_df))
    assert shapes
    for jobs, plan in shapes:
        assert jobs == 1 and "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "strategy, budget, want",
    [
        ("kernel", 512 << 20, 2),  # train stats + train collect
        ("kernel", 64, 3),  # over budget -> grid: train stats, gate and grid test stats
        ("broadcast", 512 << 20, 0),  # declarative: nothing runs eagerly
    ],
)
def test_knn_route_eager_executions(spark, har_dfs, strategy, budget, want):
    train_df, test_df = har_dfs
    got = _eager_executions(
        spark,
        lambda: knn_join(
            test_df, train_df, metric="euclidean", k=3, strategy=strategy,
            max_broadcast_bytes=budget,
        ),
    )
    assert got == want


@pytest.mark.parametrize(
    "call, want",
    [
        # corpus stats + corpus collect
        (lambda q, c, te, tr: ann_brute_topk(q, c, k=5, strategy="kernel"), 2),
        # query stats (the fit check) + query collect
        (lambda q, c, te, tr: ann_brute_topk(q, c, k=5, strategy="reverse"), 2),
        # over budget -> grid: corpus stats, gate and grid query stats
        (lambda q, c, te, tr: ann_brute_topk(
            q, c, k=5, strategy="kernel", max_broadcast_bytes=64), 3),
        # proper stats + proper collect, then one cache landing per side
        (lambda q, c, te, tr: conformal_knn(te, tr, min_kernel_pairs=0), 4),
        # over budget -> grid: proper stats, then per side its stats and
        # its cache landing
        (lambda q, c, te, tr: conformal_knn(te, tr, max_broadcast_bytes=64), 5),
    ],
    ids=["ann-kernel", "ann-reverse", "ann-grid", "conformal-kernel", "conformal-grid"],
)
def test_ann_and_conformal_route_eager_executions(spark, har_dfs, emb, call, want):
    train_df, test_df = har_dfs
    got = _eager_executions(spark, lambda: call(emb.limit(23), emb, test_df, train_df))
    assert got == want


def test_knn_empty_train_side_matches_declarative(spark, har_dfs):
    """An empty train side gives no rows, in the declarative plan's
    columns, on every strategy; the kernel and chunked routes run only
    the stats job that finds it empty."""
    train, test = har_dfs
    empty = train.filter(F.lit(False))
    want = knn_join(test, empty, k=3, strategy="broadcast")
    assert want.collect() == []
    for strategy in ("shuffle", "kernel", "chunked", "reverse"):
        got = knn_join(test, empty, k=3, strategy=strategy)
        assert got.dtypes == want.dtypes and got.collect() == [], strategy
    for strategy in ("kernel", "chunked"):
        jobs = _eager_executions(spark, lambda: knn_join(test, empty, k=3, strategy=strategy))
        assert jobs == 1, strategy


def test_ann_empty_corpus_matches_declarative(spark, emb):
    """ann_brute_topk against an empty corpus: no rows, in the declarative
    plan's columns, on every strategy."""
    empty = emb.filter(F.lit(False))
    want = ann_brute_topk(emb.limit(5), empty, k=3, strategy="declarative")
    assert want.collect() == []
    for strategy in ("kernel", "chunked", "reverse"):
        got = ann_brute_topk(emb.limit(5), empty, k=3, strategy=strategy)
        assert got.dtypes == want.dtypes and got.collect() == [], strategy


@pytest.fixture(scope="module")
def emb_nan(spark, emb):
    """The emb fixture (two zero vectors, 13 and 77) plus row 500 with a
    NaN element."""
    return emb.unionByName(
        spark.createDataFrame([(500, [float("nan")] + [1.0] * 15)], emb.schema)
    )


@pytest.mark.parametrize("strategy", ["kernel", "reverse", "chunked"])
def test_ann_nan_distances_match_declarative(spark, emb_nan, strategy):
    """A NaN cosine distance reads NaN, ranked last, on every brute route,
    as in the declarative plan (Arrow maps NaN to NULL on the way out of
    the scorers). The SQL fold raises on a zero vector's 0/0 under ANSI
    mode, so the declarative comparison leaves the zero vectors out;
    with them, each route equals the kernel and their pairs read NaN.
    block_bytes splits the chunked route's corpus, so its rerank runs."""
    zero = F.col("vec_id").isin(13, 77)
    corpus = emb_nan.filter(~zero)
    queries = corpus.filter(F.col("vec_id").isin(0, 1, 500))
    got = ann_brute_topk(queries, corpus, k=250, strategy=strategy, block_bytes=2048)
    assert any(r.cos_dist != r.cos_dist for r in got.collect())
    want = ann_brute_topk(queries, corpus, k=250, strategy="declarative")
    assert _collect(got) == _collect(want)

    queries = emb_nan.filter(F.col("vec_id").isin(0, 13, 500))
    got = ann_brute_topk(queries, emb_nan, k=250, strategy=strategy, block_bytes=2048)
    rows = got.collect()
    assert all(
        r.cos_dist != r.cos_dist for r in rows if {13, 77} & {r.query_id, r.neighbor_id}
    )
    want = ann_brute_topk(queries, emb_nan, k=250, strategy="kernel")
    assert _collect(got) == _collect(want)


@pytest.fixture(scope="module")
def walks(spark):
    """20 train x 6 test random walks of length 12."""
    rng = np.random.default_rng(5)
    schema = "series_id long, features array<double>, label string"
    walk = lambda: [float(x) for x in np.cumsum(rng.normal(0, 1, 12))]
    train = spark.createDataFrame([(i, walk(), f"c{i % 2}") for i in range(20)], schema)
    test = spark.createDataFrame([(100 + i, walk(), "t") for i in range(6)], schema)
    return train, test


@pytest.mark.parametrize(
    "call, want, bypass",
    [
        (lambda te, tr: knn_join_pruned(te, tr, metric="dtw", k=3, length=12), 0, False),
        # the phase-1/2 caches land in ONE eager count
        (lambda te, tr: knn_join_lb(te, tr, metric="dtw", k=3, length=12), 1, False),
        (lambda te, tr: knn_join_lb_metric(te, tr, metric="twed", k=3), 1, False),
        # gated, bypassed: the probe collect + the kernel's train stats and collect
        (lambda te, tr: knn_join_lb(te, tr, metric="dtw", k=3, length=12, min_prune_rate=0.95), 3, True),
        (lambda te, tr: knn_join_lb_metric(te, tr, metric="twed", k=3, min_prune_rate=0.95), 3, True),
        # gated, kept (the banded envelope is tight even on random walks):
        # the probe collect + the cache landing
        (lambda te, tr: knn_join_lb(te, tr, metric="dtw", band=2, k=3, length=12, min_prune_rate=0.05), 2, False),
    ],
    ids=["pruned", "lb", "lb-metric", "lb-gated-bypass", "lb-metric-gated-bypass", "lb-gated-keep"],
)
def test_pruned_family_eager_executions(spark, walks, monkeypatch, call, want, bypass):
    train, test = walks
    calls = []
    orig = knn_mod._brute_fallback
    monkeypatch.setattr(
        knn_mod, "_brute_fallback", lambda *a, **kw: calls.append(1) or orig(*a, **kw)
    )
    assert _eager_executions(spark, lambda: call(test, train)) == want
    assert bool(calls) == bypass


def test_lb_bound_evaluated_once_per_pair(spark, walks):
    """knn_join_lb's pair-level lower bound comes out of a Generate: the
    phase-3 filter on it infers no isnotnull(<bound>) into the cross
    join's condition, so the bound is not evaluated twice per pair."""
    train, test = walks
    df = knn_join_lb(test, train, metric="dtw", k=3, length=12)
    nodes = _plan_nodes(df)
    joins = [node for n, node in nodes if n == "BroadcastNestedLoopJoinExec"]
    assert joins
    for join in joins:
        cond = join.condition()
        assert cond.isEmpty() or "greatest" not in cond.get().toString(), cond.get().toString()
    assert any(
        n == "GenerateExec" and "greatest" in node.generator().toString() for n, node in nodes
    )


@pytest.mark.parametrize(
    "strategy, want",
    [
        # one hostile-input gate over both sides, the edge collect, and the
        # two histogram caches landed eagerly
        ("kernel", 4),
        ("declarative", 2),  # no gate, no edge collect: the two caches
    ],
)
def test_boss_eager_executions(spark, walks, strategy, want):
    train, test = walks
    got = _eager_executions(
        spark, lambda: boss_classify(test, train, m=8, n_coeffs=2, strategy=strategy)
    )
    assert got == want


@pytest.mark.parametrize("past", [0, -1, 1], ids=["zero", "negative", "past-half"])
def test_n_coeffs_out_of_range_rejected_before_any_job(spark, walks, past):
    """n_coeffs outside [1, length // 2] is a ValueError from the twiddle
    tables (features.periodogram_twiddles), which sfa_words and
    boss_classify build before any job."""
    train, test = walks

    def bad(length):
        return length // 2 + 1 if past == 1 else past

    def build():
        with pytest.raises(ValueError, match="n_freqs must be in"):
            sfa_words(train, length=12, n_coeffs=bad(12))
        with pytest.raises(ValueError, match="n_freqs must be in"):
            boss_classify(test, train, m=8, n_coeffs=bad(8))

    assert _eager_executions(spark, build) == 0


@pytest.mark.parametrize("exclude_self", [True])
def test_chunked_brute_matches_kernel(spark, emb, exclude_self):
    """Multi-block chunked == kernel, bit-for-bit (distances included)."""
    kernel = ann_brute_topk(
        emb.limit(23), emb, k=5, strategy="kernel", exclude_self=exclude_self
    )
    # 200 rows x 16 dims x 8B = 25.6 KB; block_bytes=2048 forces ~13 corpus
    # blocks and multi-query-blocks too
    chunked = ann_brute_topk(
        emb.limit(23), emb, k=5, strategy="chunked",
        exclude_self=exclude_self, block_bytes=2048,
    )
    assert _collect(chunked) == _collect(kernel)


@pytest.mark.parametrize("exclude_self", [True])
def test_chunked_quantized_matches_kernel(spark, emb, exclude_self):
    kernel = ann_quantized_topk(
        emb.limit(19), emb, k=5, strategy="kernel", exclude_self=exclude_self
    )
    chunked = ann_quantized_topk(
        emb.limit(19), emb, k=5, strategy="chunked",
        exclude_self=exclude_self, block_bytes=2048,
    )
    assert _collect(chunked) == _collect(kernel)


def test_knn_chunked_string_labels(spark):
    """String labels ride the chunked tie order like the kernel's (pandas
    delivers them object-dtype; the scorer must re-materialize a sortable
    array for np.lexsort)."""
    rng = np.random.default_rng(31)
    rows = lambda n, s: [
        (s + i, [float(x) for x in rng.normal(0, 1, 8)], ["walk", "run", "sit"][i % 3])
        for i in range(n)
    ]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(rows(30, 0), schema)
    test = spark.createDataFrame(rows(8, 1000), schema)
    kernel = knn_join(test, train, metric="euclidean", k=3, strategy="kernel")
    chunked = knn_join(test, train, metric="euclidean", k=3, strategy="chunked")
    assert sorted(map(tuple, chunked.collect())) == sorted(map(tuple, kernel.collect()))


def test_knn_chunked_nan_features_rank_last_like_kernel(spark):
    """A train series containing NaN produces a NaN distance: the kernel's
    lexsort puts it last; the chunked global rerank must do the same
    (Arrow NaN->null would otherwise rank FIRST under plain asc)."""
    train = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], 1.0), (2, [float("nan"), 2.0, 3.0], 2.0),
         (3, [1.5, 2.5, 3.5], 1.0), (4, [9.0, 9.0, 9.0], 2.0)],
        "series_id long, features array<double>, label double",
    )
    test = spark.createDataFrame(
        [(10, [1.0, 2.0, 3.0], 0.0)], "series_id long, features array<double>, label double"
    )
    kernel = knn_join(test, train, metric="euclidean", k=4, strategy="kernel")
    chunked = knn_join(test, train, metric="euclidean", k=4, strategy="chunked")
    kr = {r.train_id: r.rank for r in kernel.collect()}
    cr = {r.train_id: r.rank for r in chunked.collect()}
    assert cr == kr
    assert cr[2] == max(cr.values())  # the NaN series ranks last


def test_score_block_rows_empty_ragged_result_keeps_label_dtype():
    """Two length groups with string labels, every pair at distance 0 and
    so removed by exclude_zero: the empty result keeps the string label
    dtype (a float64 empty column would not convert to a string schema)."""
    groups = _group_by_length(
        [1, 2, 3], [[0.0, 0.0], [0.0, 0.0, 0.0], [0.0, 0.0]], ["walk", "run", "sit"]
    )
    assert len(groups) == 2
    out = _score_block_rows(
        np.array([10], dtype=np.int64), np.array([np.zeros(2)], dtype=object),
        groups, kind="dtw", elastic=batch_kernel("dtw"), k=3, excl=True,
    )
    assert len(out["test_id"]) == 0
    assert out["train_label"].dtype.kind == "U"


@pytest.mark.parametrize("k", [1, 2, 3])
def test_ragged_ties_across_length_groups_match_declarative(spark, k):
    """Train series from different length groups tie on DTW distance (3.0
    for [0,0] and [0,0,0] against [1,1,1]); the one emit over all groups
    must break the tie by label, then id, exactly like the declarative
    window — on every pair-scan route."""
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(
        [
            (7, [0.0, 0.0], "b"),
            (3, [0.0, 0.0, 0.0], "a"),
            (5, [0.0, 0.0, 0.0, 0.0], "a"),  # 4.0: ranks last
            (9, [1.0, 1.0], "c"),  # 0.0: excluded
        ],
        schema,
    )
    test = spark.createDataFrame([(100, [1.0, 1.0, 1.0], "t")], schema)
    want = _collect(knn_join(test, train, metric="dtw", k=k, strategy="broadcast"))
    by_rank = sorted(want, key=lambda r: r[-1])
    assert [(r[1], r[3]) for r in by_rank] == [(3, 3.0), (7, 3.0), (5, 4.0)][:k]
    for strategy in ("kernel", "reverse", "chunked"):
        got = knn_join(test, train, metric="dtw", k=k, strategy=strategy)
        assert _collect(got) == want, strategy


@pytest.mark.parametrize("label_type, labels", [
    ("double", [1.0, None, 2.0, None, 1.0]),
    ("string", ["a", None, "b", None, "a"]),
])
def test_null_labels_rank_first_on_every_route(spark, label_type, labels):
    """At equal distance a null label ranks before any label, as SQL's
    ascending order puts it, on every pair-scan route: the kernel and
    grid cores' first_k agree with the declarative window, membership at
    the k-th distance included."""
    schema = f"series_id long, features array<double>, label {label_type}"
    # (1, 2) tie at distance 1, (3, 4) at distance 2; 2 and 4 carry nulls
    train = spark.createDataFrame(
        [(i + 1, f, lab) for i, (f, lab) in enumerate(zip(
            [[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [0.0, 2.0], [3.0, 3.0]], labels
        ))],
        schema,
    )
    test = spark.createDataFrame([(10, [0.0, 0.0], labels[0])], schema)
    for k in (1, 3):
        want = _collect(knn_join(test, train, metric="euclidean", k=k, strategy="broadcast"))
        assert [r[1] for r in sorted(want, key=lambda r: r[-1])] == [2, 1, 4][:k]
        for strategy in ("kernel", "reverse", "chunked"):
            got = knn_join(test, train, metric="euclidean", k=k, strategy=strategy)
            assert _collect(got) == want, (strategy, k)


@pytest.mark.parametrize(
    "call",
    [
        lambda df, e: knn_join(df, df, k=2, strategy="kernel", max_broadcast_bytes=0),
        lambda df, e: knn_join(df, df, k=2, strategy="reverse", max_broadcast_bytes=-1),
        lambda df, e: knn_join(df, df, k=2, strategy="chunked", max_broadcast_bytes=0),
        lambda df, e: ann_brute_topk(e, e, strategy="kernel", max_broadcast_bytes=0),
        lambda df, e: ann_brute_topk(e, e, strategy="chunked", block_bytes=0),
        lambda df, e: ann_quantized_topk(e, e, strategy="chunked", block_bytes=-8),
        lambda df, e: conformal_knn(df, df, max_broadcast_bytes=0),
        lambda df, e: conformal_set(df, df, max_broadcast_bytes=0),
    ],
    ids=["knn-kernel", "knn-reverse", "knn-chunked", "ann-brute", "ann-brute-block",
         "ann-quantized-block", "conformal-knn", "conformal-set"],
)
def test_nonpositive_budgets_rejected_before_any_job(spark, har_dfs, emb, call):
    """A zero or negative byte budget is a ValueError at the public API,
    raised before any Spark job runs."""
    train, _ = har_dfs

    def build():
        with pytest.raises(ValueError, match=r"(max_broadcast_bytes|block_bytes) must be > 0"):
            call(train, emb)

    assert _eager_executions(spark, build) == 0


def _exhaustive(tids, T, ids, B, labels, kind, k, excl):
    """All-pairs reference for the euclidean kinds: every pair through the
    SQL fold's arithmetic (a left fold: ``np.cumsum`` accumulates in index
    order), one row at a time, then ``first_k``."""
    with np.errstate(all="ignore"):
        D = np.concatenate([np.cumsum((t - B) ** 2, axis=1)[:, -1] for t in T])
    if kind == "euclidean":
        D = np.sqrt(D)
    r, i, d, lab, rank = first_k(
        D, np.repeat(np.arange(len(T)), len(B)), np.tile(ids, len(T)),
        None if labels is None else np.tile(labels, len(T)), k,
        D != 0 if excl else None,
    )
    out = {"test_id": tids[r], "train_id": i, "distance": d, "rank": rank}
    if labels is not None:
        out["train_label"] = lab
    return out


def _grid(rng, n, m, L, scale=1.0):
    """Tie-heavy integer grid: train (n, L), test (m, L) with three test
    rows exact copies of train rows."""
    B = rng.integers(0, 3, size=(n, L)).astype(float) * scale
    T = rng.integers(0, 3, size=(m, L)).astype(float) * scale
    T[:3] = B[[5, 0, 5]]
    return T, B


def _normal(scale):
    def make(rng, n, m, L):
        B = rng.normal(size=(n, L)) * scale
        T = rng.normal(size=(m, L)) * scale
        T[0] = B[1]
        return T, B

    return make


def _poisoned(value):
    def make(rng, n, m, L):
        T, B = _grid(rng, n, m, L)
        B[4, 2] = value
        T[7, 1] = value
        return T, B

    return make


@pytest.mark.parametrize(
    "make, n, m, k, filtered",
    [
        # 700 train rows: three ~64K-pair chunks of test rows
        (_grid, 700, 200, 5, True),
        (_grid, 40, 9, 1, True),
        (_grid, 6, 5, 9, True),  # k >= n_train: every pair is a candidate
        (lambda rng, n, m, L: _grid(rng, n, m, L, 1e-3), 60, 20, 4, True),
        (_normal(1e6), 80, 30, 3, True),
        (_normal(1e150), 50, 10, 3, True),
        (_normal(1e-150), 50, 10, 3, True),
        (_normal(1e-160), 50, 10, 3, True),  # subnormal squares
        (_normal(3e-162), 50, 10, 3, True),  # distances a few subnormal ulps apart
        (_normal(1e160), 50, 10, 3, False),  # squared norms overflow
        (_poisoned(float("nan")), 50, 10, 3, False),
        (_poisoned(float("inf")), 50, 10, 3, False),
    ],
    ids=["grid-chunks", "grid-k1", "k-over-n", "grid-1e-3", "normal-1e6", "1e150",
         "1e-150", "1e-160", "3e-162", "1e160", "nan", "inf"],
)
@pytest.mark.parametrize("labels", [None, "float", "string"])
@pytest.mark.parametrize("excl", [True, False])
@pytest.mark.parametrize("kind", ["euclidean", "sq_euclidean"])
def test_gram_filter_matches_exhaustive_fold(monkeypatch, make, n, m, k, filtered, labels, excl, kind):
    """The Gram-filtered core returns exactly the all-pairs fold's rows,
    ranks, distance bits and dtypes — ties at the k-th distance, exact
    duplicates under d != 0 and scales down to subnormal included — and
    leaves non-finite and overflowing inputs to the exhaustive fold."""
    rng = np.random.default_rng(n * 31 + m)
    T, B = make(rng, n, m, 8)
    ids = rng.permutation(3 * n)[:n].astype(np.int64)
    lab = {
        None: None,
        "float": rng.integers(0, 3, n).astype(float),
        "string": np.asarray([["walk", "run", "sit"][j] for j in rng.integers(0, 3, n)]),
    }[labels]
    tids = np.arange(500, 500 + m, dtype=np.int64)
    calls = []
    orig = knn_mod._gram_candidates
    monkeypatch.setattr(
        knn_mod, "_gram_candidates", lambda *a: calls.append(1) or orig(*a)
    )
    fvals = np.empty(m, dtype=object)
    fvals[:] = list(T)
    with np.errstate(all="ignore"):
        got = _score_block_rows(
            tids, fvals, _group_by_length(ids, list(B), lab), kind=kind,
            elastic=None, k=k, excl=excl,
        )
    want = _exhaustive(tids, T, ids, B, lab, kind, k, excl)
    assert bool(calls) == filtered
    assert sorted(got) == sorted(want)
    for c, w in want.items():
        assert got[c].dtype == w.dtype, c
        assert got[c].tobytes() == w.tobytes(), c


def test_euclidean_routes_match_declarative_on_tie_grid(spark):
    """Kernel, reverse and chunked euclidean (all Gram-filtered) equal the
    declarative knn_join on an integer grid full of distance ties and exact
    train/test duplicates (d != 0 drops those)."""
    rng = np.random.default_rng(11)
    T, B = _grid(rng, 60, 15, 6)
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(
        [(i, [float(x) for x in b], "ab"[i % 2]) for i, b in enumerate(B)], schema
    )
    test = spark.createDataFrame(
        [(100 + i, [float(x) for x in t], "t") for i, t in enumerate(T)], schema
    )
    want = _collect(knn_join(test, train, metric="euclidean", k=4, strategy="broadcast"))
    assert len(want) == 15 * 4
    for strategy in ("kernel", "reverse", "chunked"):
        got = knn_join(test, train, metric="euclidean", k=4, strategy=strategy)
        assert _collect(got) == want, strategy


def _bits(df):
    """Sorted rows with every float as its IEEE bit pattern, so NaN
    equals NaN and a last-ulp difference is a mismatch."""
    return sorted(
        tuple(np.float64(v).tobytes().hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("with_nan", [False, True], ids=["walks", "nan-row"])
@pytest.mark.parametrize("kind", ["euclidean", "sq_euclidean", "manhattan"])
def test_point_routes_match_declarative_bits_on_random_walks(spark, kind, with_nan):
    """On random floats every pair-scan route returns the declarative
    plan's distance bits: the core folds left in index order, like the
    SQL fold (a pairwise sum differs in the last bits on most rows). A
    test series holding a NaN gets NaN distances on every route, not
    NULL. Without it the euclidean kinds take the Gram filter."""
    rng = np.random.default_rng(23)
    B = np.cumsum(rng.normal(size=(40, 48)), axis=1)
    T = np.cumsum(rng.normal(size=(24, 48)), axis=1)
    if with_nan:
        T[5, 17] = np.nan
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(
        [(i, [float(x) for x in b], "abc"[i % 3]) for i, b in enumerate(B)], schema
    )
    test = spark.createDataFrame(
        [(100 + i, [float(x) for x in t], "t") for i, t in enumerate(T)], schema
    )
    want = _bits(knn_join(test, train, metric=kind, k=5, strategy="broadcast"))
    nan = np.float64(np.nan).tobytes().hex()
    assert len(want) == 24 * 5 and (sum(r[3] == nan for r in want) == 5) == with_nan
    for strategy in ("kernel", "reverse", "chunked"):
        got = knn_join(test, train, metric=kind, k=5, strategy=strategy)
        assert _bits(got) == want, strategy


@pytest.mark.parametrize("kind", ["euclidean", "sq_euclidean", "manhattan", "chebyshev"])
def test_point_metric_test_rows_of_another_length(spark, kind):
    """Test series of length 1 and 2 against length-3 train. The SQL folds
    go NULL for such pairs (chebyshev's array_max takes the overlap):
    under exclude_zero every route drops them like the declarative plan;
    without it the declarative plan would rank the NULLs first, and the
    pair-scan routes fail naming both lengths instead."""
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3)], "ab"[i % 2]) for i in range(6)], schema
    )
    test = spark.createDataFrame(
        [(100, [0.5, 1.0, 2.0], "t"), (101, [2.0], "t"), (102, [1.0, 0.0], "t")], schema
    )
    want = _bits(knn_join(test, train, metric=kind, k=3, strategy="broadcast"))
    assert {r[0] for r in want} == ({100, 101, 102} if kind == "chebyshev" else {100})
    for strategy in ("kernel", "reverse", "chunked"):
        got = knn_join(test, train, metric=kind, k=3, strategy=strategy)
        assert _bits(got) == want, strategy
        loose = knn_join(test, train, metric=kind, k=3, strategy=strategy, exclude_zero=False)
        if kind == "chebyshev":
            want_loose = knn_join(
                test, train, metric=kind, k=3, strategy="broadcast", exclude_zero=False
            )
            assert _bits(loose) == _bits(want_loose), strategy
        else:
            with pytest.raises(Exception, match="length [12] against train series of length 3"):
                loose.collect()



@pytest.mark.parametrize("exclude_zero", [True, False])
@pytest.mark.parametrize("metric", ["euclidean", "dtw"])
def test_null_series_on_every_route(spark, metric, exclude_zero):
    """One NULL train series (id 6) and one NULL test series (id 101).
    The declarative plan's distance to a NULL series is NULL: under
    exclude_zero ``d != 0`` drops those pairs, so on every route the
    NULL test series gets no neighbours and the NULL train series is no
    one's neighbour. Without it the declarative plan ranks the NULLs
    first, and the pair-scan routes fail naming the side instead."""
    schema = "series_id long, features array<double>, label string"
    train_rows = [(i, [float(i), 1.0, float(i % 3)], "ab"[i % 2]) for i in range(6)]
    test_rows = [(100, [0.5, 1.0, 2.0], "t"), (102, [1.0, 0.0, 3.0], "t")]
    train = spark.createDataFrame(train_rows + [(6, None, "a")], schema)
    test = spark.createDataFrame(test_rows + [(101, None, "t")], schema)
    want = _collect(knn_join(test, train, metric=metric, k=2, exclude_zero=exclude_zero))
    routes = ("kernel", "reverse", "chunked")
    if exclude_zero:
        assert len(want) == 4 and {r[0] for r in want} == {100, 102}
        assert 6 not in {r[1] for r in want}
        for strategy in routes:
            got = knn_join(test, train, metric=metric, k=2, strategy=strategy)
            assert _collect(got) == want, strategy
        return
    assert {(r[0], r[1]) for r in want if r[3] is None and r[4] == 1} >= {(100, 6), (101, 0)}
    only_train = spark.createDataFrame(test_rows, schema)
    only_test = spark.createDataFrame(train_rows, schema)
    for strategy in routes:
        for te, tr, side in ((only_train, train, "train"), (test, only_test, "test")):
            with pytest.raises(Exception, match=f"the {side} side holds a NULL series"):
                knn_join(
                    te, tr, metric=metric, k=2, strategy=strategy, exclude_zero=False
                ).collect()


@pytest.mark.parametrize("case", ["multi-partition", "empty"])
def test_agg_row_matches_agg_first(spark, case):
    """``agg_row`` reads the row ``agg().first()`` reads (an empty frame:
    count 0, NULL sum and max), in one Spark job with no exchange."""
    df = spark.range(0, 40 if case == "multi-partition" else 0, numPartitions=4).select(
        (F.col("id") % 7).alias("v"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") * 0.5).alias("x"),
    )
    aggs = dict(n=F.count(F.lit(1)), s=F.sum("v"), hi=F.max("x"), nx=F.count("x"))
    want = df.agg(*[c.alias(n) for n, c in aggs.items()]).first().asDict()
    got = {}
    shapes = _eager_shapes(spark, lambda: got.update(agg_row(df, **aggs)))
    assert got == want
    assert [jobs for jobs, _ in shapes] == [1]
    assert "Exchange" not in shapes[0][1], shapes[0][1]


# --- block-grid sizing: the CPU rule, the memory floors, the cap --------

_GRID_EUCLID = dict(nq=1000, nc=3000, L=128)  # perfbench grid_euclid
_DTW561_CHUNKED = dict(nq=375, nc=700, L=561)  # bench fb_knn_dtw561_banded_chunked at sf0.1


def _split(nq, nc, L, cpu_s, par, block_bytes=64 << 20):
    return pairscan._grid_split(nq * L * 8, nc * L * 8, nq, nc, cpu_s, block_bytes, par)


@pytest.mark.parametrize("par", [2, 4])
def test_grid_split_cheap_euclidean_plans_one_cell(par):
    """grid_euclid's scoring costs a fraction of one Python task's fixed
    CPU, so the grid plans one cell."""
    g = _GRID_EUCLID
    cpu_s = pairscan.scoring_cpu_s("euclidean", g["nq"] * g["nc"], g["L"])
    assert cpu_s < pairscan._PY_TASK_CPU_S
    assert _split(g["nq"], g["nc"], g["L"], cpu_s, par) == (1, 1)


@pytest.mark.parametrize("par", [2, 4])
def test_grid_split_heavy_banded_dtw_keeps_two_cells_per_core(par):
    g = _DTW561_CHUNKED
    cpu_s = pairscan.scoring_cpu_s("dtw", g["nq"] * g["nc"], g["L"], band=3)
    bq, bc = _split(g["nq"], g["nc"], g["L"], cpu_s, par)
    assert bq * bc == 2 * par


def test_grid_split_memory_floors_override_cpu_rule():
    """A small block_bytes forces ceil(side_bytes / block_bytes) blocks per
    side even when the CPU rule asks for one cell, and past the 2 x par
    cap."""
    g = _GRID_EUCLID
    block = 256 << 10
    bq, bc = _split(g["nq"], g["nc"], g["L"], 0.01, 2, block_bytes=block)
    assert bq >= -(-g["nq"] * g["L"] * 8 // block) == 4
    assert bc >= -(-g["nc"] * g["L"] * 8 // block) == 12


@pytest.mark.parametrize("par", [1, 3, 8])
def test_grid_split_caps_cells_at_twice_parallelism(par):
    bq, bc = _split(500, 500, 64, 1e6, par)
    assert bq * bc == 2 * par


def test_scoring_cpu_s_families():
    """Units per pair: one per coordinate for the point kinds, the DP cells
    for the elastic ones; banded fastdtw prices as banded dtw."""
    per = pairscan._CPU_S_PER_UNIT
    assert pairscan.scoring_cpu_s("euclidean", 10, 8) == 10 * 8 * per["gram"]
    assert pairscan.scoring_cpu_s("euclidean", 10, 8, exhaustive=True) == 10 * 8 * per["point"]
    assert pairscan.scoring_cpu_s("fastdtw", 1, 100, band=3) == 100 * 7 * per["dtw"]
    assert pairscan.scoring_cpu_s("fastdtw", 1, 100) == 100 * 10 * per["fastdtw"]
    assert pairscan.scoring_cpu_s("twed", 1, 20, channels=2) == 20 * 20 * 2 * per["edit"]
    assert pairscan.scoring_cpu_s("ann_quantized", 3, 64) == 3 * 64 * per["ann_quantized"]
    with pytest.raises(ValueError, match="no cost family"):
        pairscan.scoring_cpu_s("cosine", 1, 1)


@pytest.fixture(scope="module")
def square(spark):
    """24 train x 24 test random walks of length 10 (equal sides, so a
    forced grid splits both) with one exact train/test duplicate."""
    rng = np.random.default_rng(23)
    schema = "series_id long, features array<double>, label string"
    B = np.cumsum(rng.normal(0, 1, (24, 10)), axis=1)
    T = np.cumsum(rng.normal(0, 1, (24, 10)), axis=1)
    T[0] = B[5]
    train = spark.createDataFrame(
        [(i, [float(x) for x in b], "abc"[i % 3]) for i, b in enumerate(B)], schema
    )
    test = spark.createDataFrame(
        [(100 + i, [float(x) for x in t], "t") for i, t in enumerate(T)], schema
    )
    return train, test


@pytest.fixture
def many_cells(monkeypatch):
    """Every grid scan plans 2 x par cells (a near-zero task cost) and
    records its (bq, bc)."""
    splits = []
    orig = pairscan._grid_split
    monkeypatch.setattr(pairscan, "_PY_TASK_CPU_S", 1e-12)
    monkeypatch.setattr(
        pairscan, "_grid_split", lambda *a: splits.append(orig(*a)) or splits[-1]
    )
    return splits


@pytest.mark.parametrize(
    "call, kernel",
    [
        (lambda te, tr, e: knn_join(te, tr, metric="euclidean", k=4, strategy="chunked"),
         lambda te, tr, e: knn_join(te, tr, metric="euclidean", k=4, strategy="kernel")),
        (lambda te, tr, e: knn_join(te, tr, metric="dtw", band=2, k=4, strategy="chunked"),
         lambda te, tr, e: knn_join(te, tr, metric="dtw", band=2, k=4, strategy="kernel")),
        (lambda te, tr, e: ann_brute_topk(e, e, k=5, strategy="chunked"),
         lambda te, tr, e: ann_brute_topk(e, e, k=5, strategy="kernel")),
        (lambda te, tr, e: conformal_knn(te, tr, cal_mod=2, max_broadcast_bytes=64),
         lambda te, tr, e: conformal_knn(te, tr, cal_mod=2, min_kernel_pairs=0)),
    ],
    ids=["knn-euclidean", "knn-dtw", "ann-brute", "conformal"],
)
def test_multi_cell_grid_matches_kernel(spark, square, emb, many_cells, call, kernel):
    """With the grid forced past 2 x 2 cells, the chunked route's rows equal
    the broadcast kernel's bit for bit."""
    train, test = square
    got = _collect(call(test, train, emb))
    assert many_cells and all(bq >= 2 and bc >= 2 for bq, bc in many_cells), many_cells
    assert got == _collect(kernel(test, train, emb))


def _plan_nodes(df):
    """(simple class name, node) of every node of ``df``'s executed plan,
    collected first so AQE's final plan is the one walked."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans.audit import _executed_nodes

    df.collect()
    return list(_executed_nodes(df._jdf.queryExecution().executedPlan()))


@pytest.mark.parametrize("forced", [False, True], ids=["one-cell", "multi-cell"])
def test_grid_plan_skips_exchange_and_rerank_only_when_one_cell(
    spark, square, monkeypatch, forced
):
    """The grid_euclid shape (a cheap euclidean grid) plans one cell: its
    executed plan has no Exchange below FlatMapGroupsInPandas and no
    Window above it. A grid split both ways keeps the cell exchange and
    the rerank window."""
    train, test = square
    splits = []
    orig = pairscan._grid_split
    if forced:
        monkeypatch.setattr(pairscan, "_PY_TASK_CPU_S", 1e-12)
    monkeypatch.setattr(
        pairscan, "_grid_split", lambda *a: splits.append(orig(*a)) or splits[-1]
    )
    df = knn_join(test, train, metric="euclidean", k=5, strategy="kernel", max_broadcast_bytes=64)
    nodes = _plan_nodes(df)
    assert len(splits) == 1 and (splits[0] == (1, 1)) != forced, splits
    names = [n for n, _ in nodes]
    fmg = [node for n, node in nodes if n == "FlatMapGroupsInPandasExec"]
    assert len(fmg) == 1, names
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans.audit import _executed_nodes

    below = [n for n, _ in _executed_nodes(fmg[0])]
    assert any("Exchange" in n for n in below) == forced, below
    assert any("Window" in n for n in names) == forced, names


@pytest.fixture
def tall_cells(monkeypatch):
    """Every grid scan plans 2 query blocks x 1 candidate block when the
    query side is the larger one: a near-zero task cost and parallelism
    pinned to 1 (so 2 cells, whatever the session's core count), which
    the traffic split gives to the query side. Records each (bq, bc) and
    each call of a caller's cross-cell reduction."""
    splits, reduced = [], []
    split, scan = pairscan._grid_split, pairscan.grid_scan
    monkeypatch.setattr(pairscan, "_PY_TASK_CPU_S", 1e-12)
    monkeypatch.setattr(
        pairscan, "_grid_split",
        lambda *a: splits.append(split(*a[:-1], 1)) or splits[-1],
    )
    monkeypatch.setattr(
        pairscan, "grid_scan",
        lambda *a, reduce, **kw: scan(
            *a, reduce=lambda df: reduced.append(1) or reduce(df), **kw
        ),
    )
    return splits, reduced


@pytest.fixture(scope="module")
def tall(spark):
    """Train 12 x test 36 tie-heavy integer series of length 6, for grids
    split on the query side only: NaN distances (a train series holding a
    NaN), double labels with a null, exact train/test duplicates.
    Conformal's proper split (cal_mod=2) is the 4 even train ids, labels
    0 and 1, so its calibration side (the 8 odd ids) and test side both
    outweigh it.
    Vectors: 36 queries x 12 corpus of dimension 8, a zero vector on each
    side (NaN cosine distances)."""
    rng = np.random.default_rng(41)
    B = rng.integers(0, 3, size=(12, 6)).astype(float)
    T = rng.integers(0, 3, size=(36, 6)).astype(float)
    T[:3] = B[[5, 0, 5]]
    ids = [0, 1, 3, 2, 5, 7, 4, 9, 11, 6, 13, 15]
    B[6, 2] = float("nan")  # id 4: a proper row
    schema = "series_id long, features array<double>, label double"
    train = spark.createDataFrame(
        [(ids[i], [float(x) for x in b], None if i == 2 else float(ids[i] % 4 // 2))
         for i, b in enumerate(B)],
        schema,
    )
    test = spark.createDataFrame(
        [(100 + i, [float(x) for x in t], 0.0) for i, t in enumerate(T)], schema
    )
    vecs = lambda n, s: [
        (s + i, [float(x) for x in rng.integers(-2, 3, 8)]) for i in range(n)
    ]
    corpus_rows, query_rows = vecs(12, 0), vecs(36, 100)
    corpus_rows[4] = (4, [0.0] * 8)
    query_rows[9] = (109, [0.0] * 8)
    vschema = "vec_id long, embedding array<double>"
    return (
        train, test,
        spark.createDataFrame(corpus_rows, vschema), spark.createDataFrame(query_rows, vschema),
    )


def _nan_dist_and_null_label(rows):
    return any(r.distance != r.distance for r in rows) and any(r.train_label is None for r in rows)


@pytest.mark.parametrize(
    "call, kernel, covered",
    [
        (lambda te, tr, q, c: knn_join(te, tr, metric="euclidean", k=11, strategy="chunked"),
         lambda te, tr, q, c: knn_join(te, tr, metric="euclidean", k=11, strategy="kernel"),
         _nan_dist_and_null_label),
        (lambda te, tr, q, c: knn_join(te, tr, metric="dtw", band=2, k=11, strategy="chunked"),
         lambda te, tr, q, c: knn_join(te, tr, metric="dtw", band=2, k=11, strategy="kernel"),
         lambda rows: any(r.train_label is None for r in rows)),
        (lambda te, tr, q, c: ann_brute_topk(q, c, k=5, strategy="chunked", exclude_self=False),
         lambda te, tr, q, c: ann_brute_topk(q, c, k=5, strategy="kernel", exclude_self=False),
         lambda rows: any(r.cos_dist != r.cos_dist for r in rows)),
        (lambda te, tr, q, c: conformal_knn(te, tr, cal_mod=2, max_broadcast_bytes=64),
         lambda te, tr, q, c: conformal_knn(te, tr, cal_mod=2, min_kernel_pairs=0),
         lambda rows: {r.label for r in rows} == {0.0, 1.0}),
    ],
    ids=["knn-euclidean", "knn-dtw", "ann-brute", "conformal"],
)
def test_query_split_grid_matches_kernel_without_reduction(
    spark, tall, tall_cells, call, kernel, covered
):
    """With the candidate side unsplit (bq = 2, bc = 1) each cell's result
    is final and no cross-cell reduction (rerank, MIN) runs; rows, ranks,
    NaN distances, null labels and distance bits equal the broadcast
    kernel's."""
    import struct

    train, test, corpus, queries = tall
    splits, reduced = tall_cells
    got = call(test, train, queries, corpus).collect()
    assert splits and all(s == (2, 1) for s in splits), splits
    assert not reduced

    def bits(rows):
        return sorted(
            (tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r) for r in rows),
            key=repr,
        )

    assert covered(got)
    assert bits(got) == bits(kernel(test, train, queries, corpus).collect())


def _tool(name):
    """A script under tools/, imported as a module."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_calibrate_grid_tool_runs(spark):
    """tools/calibrate_grid.py at tiny sizes on the shared session: a
    task-cost slope and a positive coefficient for every family."""
    import math

    out = _tool("calibrate_grid").calibrate(spark, scale=0.02, reps=1)
    assert math.isfinite(out["py_task_cpu_s"])
    assert sorted(out["task_cpu_s"]) == [1, 2, 4]
    assert all(v >= 0 for v in out["task_cpu_s"].values())
    assert set(out["cpu_s_per_unit"]) == set(pairscan._CPU_S_PER_UNIT)
    assert all(v > 0 for v in out["cpu_s_per_unit"].values()), out


def test_cpu_split_tool_runs(spark):
    """tools/cpu_split.py on the smoke-size grid_euclid workload, on the
    shared session: every process and JVM thread class is reported, and
    the calls used JVM CPU."""
    out = _tool("cpu_split").measure(spark, "grid_euclid", calls=2, size="smoke")
    assert set(out["process"]) == {"driver", "jvm", "workers"}
    assert set(out["jvm_threads"]) == {
        "jit", "gc", "executor", "planning", "scheduler", "other", "exited"
    }
    assert all(v >= 0 for v in [*out["process"].values(), *out["jvm_threads"].values()]), out
    assert out["process"]["jvm"] > 0, out

@pytest.mark.slow
def test_fuzz_sweep_grid():
    """tools/fuzz_sweep.py grid: every forced (bq, bc) in {1, 2, 3}^2 x
    metric x exclude_zero equals the all-pairs numpy reference."""
    assert _tool("fuzz_sweep").sweep_grid(72, 99) == 0


@pytest.mark.parametrize("case", ["flat", "ragged", "empty", "nulls", "nested"])
def test_side_stats_matches_numpy(spark, case):
    """side_stats' (rows, max length, ragged, channels) against numpy on
    a multi-partition side; NULL series count as rows, not lengths."""
    rng = np.random.default_rng(3)
    nested = case == "nested"
    lengths = {"flat": [6] * 9, "ragged": [3, 7, 5] * 3, "empty": [], "nulls": [4] * 6 + [None] * 3,
               "nested": [5] * 9}[case]
    rows = [
        (i, None if n is None else (
            [[float(x), 1.0] for x in rng.normal(size=n)] if nested else [float(x) for x in rng.normal(size=n)]
        ))
        for i, n in enumerate(lengths)
    ]
    schema = f"id long, f {'array<array<double>>' if nested else 'array<double>'}"
    df = spark.createDataFrame(rows, schema).repartition(3)
    known = [n for n in lengths if n is not None]
    want = (
        len(lengths),
        max(known, default=0),
        not known or min(known) != max(known),
        2 if nested else 1,
    )
    assert pairscan.side_stats(df, "f", nested=nested) == want
