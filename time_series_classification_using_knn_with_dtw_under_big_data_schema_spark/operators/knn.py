"""KNN similarity join — the engine's core operator (SURVEY.md §2.9 M2).

Reference semantics (Team11-Project.py):
- Model 1 "shuffle": train_rdd.cartesian(test_rdd) + per-partition partial
  heapq top-k + groupByKey + final top-k + Counter vote (:186-199, :368-381).
- Model 2 "broadcast": driver collect + sc.broadcast + flatMap loop +
  reduceByKey(min) for k=1 (:502-579).

Spark-first re-expression — ONE declarative plan, no RDDs:

    test.crossJoin([broadcast] train)
        -> distance, evaluated ONCE per pair (interpreted HOF fold for the
           euclidean family; Arrow-batched pandas_udf for DTW) through
           functions/distance.py::with_distance
        -> filter(distance != 0)          # reference self-match exclusion P7
        -> window row_number <= k          # K1; WindowGroupLimit = map-side
                                           # partial top-k (two-phase heap)
        -> majority vote (A5) / min_by (A6)

Scale notes (100 TB design):
- ``broadcast`` strategy keeps the pair generation shuffle-free: each test
  partition streams the broadcast train table (BroadcastNestedLoopJoin). The
  only shuffle is the window's hash(test_id) exchange, and WindowGroupLimit
  caps it at k rows per test id per map partition.
- ``shuffle`` strategy (train too big to broadcast) is the cartesian
  re-expression of Model 1; partition counts are AQE's problem, not manual
  repartition() calls.
- Euclidean ranking avoids the sqrt until after top-k (monotone transform).
- Pair-scan strategies ``kernel`` / ``reverse`` / ``chunked`` (broadcast
  scan, swapped broadcast scan, block grid) run in ``operators/pairscan.py``
  around ONE scoring core, ``_score_block_rows``, which scores every
  train length group and emits through ``pairscan.first_k``.
- The pruned family (``knn_join_pruned``, ``knn_join_lb``,
  ``knn_join_lb_metric``) shares one filter-and-verify core
  (``_filter_verify``); each function supplies only its sketch columns and
  its ``_lb`` bound.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import (
    DISTANCES, ELASTIC_KINDS, _grouped_pairs_udf, batch_kernel, sq_euclidean,
    with_distance,
)
from .topk import check_k, topk_per_key
from .vote import majority_vote

MetricT = Union[str, Callable[[Column, Column], Column]]


def _resolve_metric(metric: MetricT, band: Optional[int], fastdtw_radius: int):
    """Returns (distance_fn, rank_is_squared)."""
    if callable(metric):
        return metric, False
    if metric == "euclidean":
        return None, True  # special-cased: rank on sq_euclidean, sqrt after
    if metric in ("dtw", "fastdtw"):
        # fastdtw: faithful FastDTW, or exact banded DTW when a band is
        # pinned (functions/distance.py::batch_kernel owns that rule)
        return _grouped_pairs_udf(batch_kernel(metric, band=band, radius=fastdtw_radius)), False
    if metric in DISTANCES:
        return DISTANCES[metric], False
    raise ValueError(f"unknown metric {metric!r}; have {sorted(DISTANCES)} + 'fastdtw'")


def _nested_pair(test: DataFrame, train: DataFrame, features_col: str) -> bool:
    """True for multichannel (array<array<double>>) series; both sides
    must agree."""
    from pyspark.sql.types import ArrayType

    nested = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    if nested != isinstance(test.schema[features_col].dataType.elementType, ArrayType):
        raise ValueError(
            "test/train nestedness mismatch: one side is multichannel "
            "(array<array>) and the other flat — flatten or channel-split "
            "upstream"
        )
    return nested


def _maybe_multichannel(fn, metric: MetricT, test: DataFrame, train: DataFrame, features_col: str):
    """Declarative-path multichannel dispatch (r7, VERDICT r6 #6): nested
    features (array<array<double>>) route the named edit metrics through
    the independent-channel-sum lifter — per-channel univariate DP,
    summed ascending — which preserves each metric's properties (a sum
    of metrics is a metric, so ERP/TWED/MSM keep the triangle
    inequality). DTW/fastdtw UDFs already handle nested input inside the
    kernel (per-channel-summed POINT cost, the q113/q156 family); the
    euclidean-family folds stay flat-only (they'd mis-type on nested
    arrays at analysis time, which is the right failure)."""
    if _nested_pair(test, train, features_col) and isinstance(metric, str) and metric in (
        "lcss", "edr", "erp", "twed", "msm",
    ):
        from ..functions.edit_distance import multichannel

        return multichannel(fn)
    return fn


def knn_join(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    k: int = 5,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    keep_features: bool = False,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """k nearest train neighbors for every test row.

    Output: (test_id, train_id, distance, rank[, train_label]) with
    rank 1..k ordered by (distance ASC, train_label ASC, train_id ASC) —
    the heapq.nsmallest-compatible tie order (SURVEY.md §2.5 K1) plus a
    trailing train_id for total determinism.

    ``max_broadcast_bytes`` bounds strategy='kernel''s driver collect: if the
    estimated train matrix (rows x length x 8B) exceeds it, the call falls
    back — to strategy='reverse' (r9: broadcast the QUERY side, stream the
    train table in place with zero array exchange — the serve regime) when
    the test estimate fits comfortably (budget // 8), else to
    strategy='chunked' (r5 — the block nested-loop grid, same kernels, no
    driver materialization). Ragged train rides both fallbacks for the
    ELASTIC metrics (r9: per-length rectangular kernel calls, exact merged
    top-k); only ragged POINT-metric corpora (no cross-length semantics)
    keep the declarative shuffle plan.

    Test ids must be unique; nothing checks this (it would take a job),
    and the routes treat rows that share an id differently. 'broadcast',
    'shuffle' and 'reverse' rank per id: the rows sharing it get k
    neighbours between them. 'kernel', and a 'chunked' grid whose train
    side is not split, rank per row: k neighbours each. A grid with a
    split train side merges per id, as 'reverse' does.
    """
    check_k(k)
    if strategy in ("kernel", "chunked", "reverse"):
        from .pairscan import check_budgets

        check_budgets(max_broadcast_bytes=max_broadcast_bytes)
        if keep_features:
            raise ValueError(f"keep_features is not supported with strategy={strategy!r}")
        kind, nested = _scan_kind(metric, strategy, test, train, features_col)
        return _knn_scan(
            test,
            train,
            strategy=strategy,
            kind=kind,
            nested=nested,
            k=k,
            id_col=id_col,
            features_col=features_col,
            label_col=label_col,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
            max_broadcast_bytes=max_broadcast_bytes,
        )
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")
    pairs, squared = _cross_pairs(
        test, train, metric=metric, strategy=strategy, id_col=id_col,
        features_col=features_col, label_col=label_col,
        exclude_zero=exclude_zero, band=band, fastdtw_radius=fastdtw_radius,
    )
    extra = [F.col("_tf").alias("test_features")] if keep_features else []
    return _rank_tail(pairs, k, label_col, squared=squared, extra=extra)


def _sides(test, train, id_col, features_col, label_col, t_extra=(), r_extra=()):
    """The (test_id, _tf, *t_extra) and (train_id, _rf, *r_extra
    [, train_label]) views every declarative KNN plan joins."""
    t = test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"), *t_extra)
    r_cols = [F.col(id_col).alias("train_id"), F.col(features_col).alias("_rf"), *r_extra]
    if label_col is not None:
        r_cols.append(F.col(label_col).alias("train_label"))
    return t, train.select(*r_cols)


def _pair_distance(metric: MetricT, band, fastdtw_radius, test, train, features_col):
    """(distance over _tf/_rf, rank_is_squared): euclidean ranks on the
    squared form, sqrt after top-k; nested edit metrics go through the
    channel-sum lifter."""
    fn, squared = _resolve_metric(metric, band, fastdtw_radius)
    fn = _maybe_multichannel(fn, metric, test, train, features_col)
    return (sq_euclidean if squared else fn)(F.col("_tf"), F.col("_rf")), squared


def _score_pairs(ids: DataFrame, t: DataFrame, r: DataFrame, dist: Column, exclude_zero: bool):
    """Candidate scorer of the pruned family: join both feature sides back
    onto (test_id, train_id) pairs by id, compute _d, drop zeros."""
    pairs = ids.join(t, "test_id").join(r, "train_id")
    return with_distance(pairs, dist, exclude_zero).drop("_tf", "_rf")


def _cross_pairs(test, train, *, metric, strategy, id_col, features_col, label_col,
                 exclude_zero, band, fastdtw_radius):
    """Declarative pair plan: test x [broadcast] train -> _d -> P7 filter.
    Returns (pairs, rank_is_squared)."""
    t, r = _sides(test, train, id_col, features_col, label_col)
    pairs = t.crossJoin(F.broadcast(r) if strategy == "broadcast" else r)
    dist, squared = _pair_distance(metric, band, fastdtw_radius, test, train, features_col)
    return with_distance(pairs, dist, exclude_zero), squared


def _rank_tail(pairs: DataFrame, k: int, label_col, *, squared=False, extra=()) -> DataFrame:
    """Top-k per test by (_d, train_label, train_id) ascending ->
    (test_id, train_id[, train_label], distance, rank, *extra)."""
    order = [F.asc("_d")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    distance = F.sqrt(F.col("_d")) if squared else F.col("_d")
    out = [F.col("test_id"), F.col("train_id"), distance.alias("distance"), F.col("rank"), *extra]
    if label_col is not None:
        out.insert(2, F.col("train_label"))
    return topk_per_key(pairs, "test_id", order, k).select(*out)


# named metrics the scoring core implements
_SCAN_KINDS = ELASTIC_KINDS | {"euclidean", "sq_euclidean", "manhattan", "chebyshev", "sbd"}


def _scan_kind(metric: MetricT, strategy: str, test, train, features_col):
    """Validate a kernel/reverse/chunked call once, before dispatch.
    Returns (kind, nested): the scoring-core kind of the named metric and
    whether the series are multichannel."""
    if callable(metric):
        raise ValueError(f"strategy={strategy!r} supports named metrics only")
    if metric not in _SCAN_KINDS:
        raise ValueError(f"strategy={strategy!r} does not support metric {metric!r}")
    nested = _nested_pair(test, train, features_col)
    if nested and metric not in ELASTIC_KINDS:
        raise ValueError(
            "multichannel series support metric='dtw'/'fastdtw' and the "
            f"edit-distance family only, got {metric!r}"
        )
    return metric, nested


def _knn_scan(
    test: DataFrame,
    train: DataFrame,
    *,
    strategy: str,
    kind: str,
    nested: bool,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    band: Optional[int],
    fastdtw_radius: int,
    max_broadcast_bytes: int,
) -> DataFrame:
    """strategy='kernel' / 'reverse' / 'chunked' through the pair-scan
    router (operators/pairscan.py). Every route scores through the shared
    core ``_score_block_rows`` (test rows are always the A operand) with
    the batch DP built here by ``batch_kernel``, so cross-strategy
    bit-identity holds by construction; per-batch and per-cell survivors
    merge through ``pairscan.rerank``. The reference's unguarded Model-2
    collect (Team11-Project.py:528) is what the router's byte gate
    avoids.

    Ragged train rides every route for the ELASTIC metrics (per-length
    rectangular kernel calls, one emit over all groups). Point metrics
    need fixed-length train: over budget, a ragged point-metric corpus
    keeps the declarative shuffle plan, and an explicit 'kernel' or
    'chunked' call on one is rejected. A test row of another length gets
    no neighbours under ``exclude_zero`` (the declarative plan's NULL
    distances are dropped there) and fails the call otherwise (it would
    rank them first). A NULL series is handled the same way
    (``_drop_null_series``): under ``exclude_zero`` it gets no neighbours
    and is no one's neighbour; otherwise the call fails naming its side.
    """
    import pandas as pd

    from . import pairscan

    has_label = label_col is not None
    cols = ["test_id", "train_id"] + (["train_label"] if has_label else []) + ["distance", "rank"]
    schema = "test_id long, train_id long"
    if has_label:
        schema += f", train_label {dict(train.dtypes)[label_col]}"
    schema += ", distance double, rank int"
    q = (test, [id_col, features_col])
    c = (train, [id_col, features_col] + ([label_col] if has_label else []))
    r = pairscan.route(strategy, c, budget=max_broadcast_bytes, q=q, nested=nested)
    if r.name in ("kernel", "chunked") and r.c_ragged and kind not in ELASTIC_KINDS:
        if strategy == "kernel" and r.name == "chunked":
            # point metrics have no cross-length kernel: an over-budget
            # ragged corpus keeps the declarative shuffle plan
            return knn_join(
                test, train, metric=kind, k=k, strategy="shuffle",
                id_col=id_col, features_col=features_col,
                label_col=label_col, exclude_zero=exclude_zero,
                band=band, fastdtw_radius=fastdtw_radius,
            )
        raise ValueError(
            f"strategy={strategy!r} needs fixed-length train series for "
            f"metric {kind!r}"
        )
    elastic = (
        batch_kernel(kind, band=band, radius=fastdtw_radius)
        if kind in ELASTIC_KINDS else None
    )

    def pack(ids, fvals, labels):
        return _group_by_length(*_drop_null_series(ids, fvals, labels, "train", exclude_zero))

    def score(pdf, groups):
        tids, fvals, _ = _drop_null_series(
            pdf[id_col].to_numpy(), pdf[features_col].to_numpy(), None, "test", exclude_zero
        )
        if not groups:  # every train series of the batch or cell is NULL
            return pd.DataFrame({n: [] for n in cols})
        out = _score_block_rows(
            tids, fvals, groups, kind=kind, elastic=elastic, k=k, excl=exclude_zero,
        )
        return pd.DataFrame({n: out[n] for n in cols})

    ties = (["train_label"] if has_label else []) + ["train_id"]
    return pairscan.scan(
        r, q, c, kind=kind, cost=dict(band=band, radius=fastdtw_radius),
        pack=pack, score=score,
        reduce=lambda scored: pairscan.rerank(scored, "test_id", "distance", ties, k),
        schema=schema, dist="distance", budget=max_broadcast_bytes, nested=nested,
    )


# pairs per scoring chunk: ~1,024 for the batch DPs, ~64K for the point
# folds, sbd's block FFT and the Gram filter
_DP_PAIRS = 1024
_BLOCK_PAIRS = 65536


def _score_block_rows(tids, fvals, groups, *, kind, elastic, k, excl, by_label=False):
    """THE numpy pair-scoring core — one block of test rows against the
    train side's per-length ``groups`` of (ids, stacked matrix, labels),
    shared verbatim by every KNN pair-scan route and by conformal KNN's
    kernel and grid, so their bit-identity contract is enforced by
    construction instead of by hand-synced copies. ``elastic`` is the
    kind's batch DP from ``batch_kernel`` (None for the point metrics and
    sbd).

    Test rows are stacked per length and chunked so one kernel call covers
    ~1,024 pairs for the batch DPs, and ~64K pairs for the point folds,
    for sbd (ONE block FFT serves many test rows) and for the Gram filter
    below. The ~1,024 DP target balances ufunc-dispatch amortization
    against cache footprint: the kernel's (pairs, window) work arrays must
    share L2/L3 with 31 sibling workers, and measured aggregate throughput
    on 561-pt wide-warp pairs peaks near 1k pairs/call (4k-pair calls were
    ~20% slower under full contention). In the broadcast-kernel regime
    (train >= 1024 rows) a DP chunk is one test row scored with ZERO-copy
    views (broadcast_to + the train matrix); in the chunked regime's
    narrow corpus blocks it collapses rows x blocks tiny kernel calls into
    ~1024-pair ones.

    The point metrics fold left in index order (``_point_fold``), the IEEE
    operation sequence of the SQL folds in functions/distance.py, so every
    route returns the declarative plan's distance bits. A point-metric
    pair of unequal lengths is dropped under ``excl``, as the SQL fold
    goes NULL there and ``d != 0`` drops it (chebyshev's ``array_max``
    skips the padding nulls instead, so it folds over the overlap);
    without ``excl`` the SQL plan would rank that NULL first, and the core
    raises a ValueError naming both lengths.

    euclidean / sq_euclidean against one flat float64 train matrix take
    the Gram filter (``_gram_candidates``): one BLAS product per chunk
    bounds every pair's squared distance, and only the pairs that can
    reach their row's top-k are scored exactly — by the same left fold
    (``np.cumsum`` is a sequential accumulate), so rows, ranks and
    distance bits are the exhaustive fold's. A chunk whose squared norms
    could overflow (any |x| past ~1e153), or that holds a NaN or inf
    element, takes the exhaustive fold instead.

    Each chunk scores every length group (a ragged train side is one
    rectangular kernel call per distinct length) and emits ONCE over the
    concatenated pairs through ``pairscan.first_k``: (distance, label, id)
    ascending, NaN last, dist != 0 dropped under ``excl``. ``by_label``
    emits instead each row's least distance per train label, conformal's
    MIN over the d != 0 pairs: ``first_k`` with k = 1 over a (row, label)
    key, the labels factorized so that nulls form one group, as a SQL
    ``groupBy`` does. It scores every pair (no Gram filter), and each
    group's train rows are sorted by label so that ``first_k`` gets one
    candidate per (row, label) and group, the run's least non-NaN
    surviving distance or else NaN (sending every pair through
    ``first_k``'s sort made conformal's scoring ~1.8x slower); its
    ``train_id`` names the run, not the nearest row.
    Returns dict of numpy arrays: test_id, train_id, distance, rank
    [, train_label]."""
    import numpy as np
    import pandas as pd

    from ..functions.distance import _stack_series, sbd_block
    from .pairscan import first_k

    def cat(xs):
        return xs[0] if len(xs) == 1 else np.concatenate(xs)

    n_train = sum(len(g[0]) for g in groups)
    has_label = groups[0][2] is not None
    point = elastic is None and kind != "sbd"
    glabels = [g[2] for g in groups]
    if by_label:
        codes, uniques = pd.factorize(cat(glabels), use_na_sentinel=False)
        glabels = np.split(codes, np.cumsum([len(g[0]) for g in groups])[:-1])
        # each group's rows sorted by label, so that a (row, label) key
        # is one run of columns
        orders = [np.argsort(c, kind="stable") for c in glabels]
        groups = [tuple(x[o] for x in g) for g, o in zip(groups, orders)]
        glabels = [c[o] for c, o in zip(glabels, orders)]
        runs = [np.flatnonzero(np.r_[True, c[1:] != c[:-1]]) for c in glabels]
    M = groups[0][1]
    gram = (
        not by_label and kind in ("euclidean", "sq_euclidean") and len(groups) == 1
        and M.dtype == np.float64 and M.ndim == 2
    )
    mn = (M * M).sum(axis=1) if gram else None
    # the point folds stream the transposed train matrices one column at a
    # time; each is built on first use (a Gram-filtered call needs none)
    gts: dict = {}
    rows_per = max(1, (_BLOCK_PAIRS if elastic is None else _DP_PAIRS) // max(1, n_train))
    parts = []
    # test rows may be ragged; each chunk stacks rectangular
    by_len: dict = {}
    for i, f in enumerate(fvals):
        by_len.setdefault(len(f), []).append(i)
    for length, idxs in by_len.items():
        T = _stack_series([fvals[i] for i in idxs])
        tn = None
        if gram and T.dtype == np.float64 and T.shape[1:] == M.shape[1:]:
            tn = (T * T).sum(axis=1)
        for c0 in range(0, len(idxs), rows_per):
            chunk = idxs[c0 : c0 + rows_per]
            Tc = T[c0 : c0 + rows_per]
            nc = len(chunk)
            tc = None if tn is None else tn[c0 : c0 + rows_per]
            # finite here keeps every pair's squared distance, exact and
            # approximate, away from overflow (and rules out NaN / inf)
            if tc is not None and not np.isfinite(4.0 * (tc.max() + mn.max())):
                tc = None
            Ds, rows, ids, labels = [], [], [], []
            for g, (b_ids, b_feats, _) in enumerate(groups):
                n_g = len(b_ids)
                if point and kind != "chebyshev" and b_feats.shape[1] != length:
                    if not excl:
                        raise ValueError(
                            f"metric {kind!r} needs equal lengths: a test series of "
                            f"length {length} against train series of length "
                            f"{b_feats.shape[1]} (exclude_zero=True drops such pairs)"
                        )
                    continue
                if tc is not None:
                    r, j = _gram_candidates(Tc, tc, b_feats, mn, k, excl)
                    D = np.concatenate([
                        np.cumsum(
                            (Tc[r[s : s + _DP_PAIRS]] - b_feats[j[s : s + _DP_PAIRS]]) ** 2,
                            axis=1,
                        )[:, -1]
                        for s in range(0, len(r), _DP_PAIRS)
                    ])
                    if kind == "euclidean":
                        D = np.sqrt(D)
                else:  # every pair, row-major
                    r, j = np.repeat(np.arange(nc), n_g), np.tile(np.arange(n_g), nc)
                    if point:
                        if g not in gts:
                            gts[g] = np.ascontiguousarray(b_feats.T)
                        D = _point_fold(kind, Tc, gts[g])
                    elif kind == "sbd":
                        # block form: both sides FFT'd once per chunk, no
                        # pair materialization at all
                        D = sbd_block(Tc, b_feats)
                    elif nc == 1:
                        D = elastic(np.broadcast_to(Tc[0], (n_g,) + Tc[0].shape), b_feats)
                    else:
                        D = elastic(
                            np.repeat(Tc, n_g, axis=0),
                            np.tile(b_feats, (nc,) + (1,) * (b_feats.ndim - 1)),
                        )
                    if by_label:
                        # each run's candidate for first_k, which then
                        # merges the length groups: the least surviving
                        # non-NaN distance, else NaN if a NaN survives
                        kept = D.reshape(nc, n_g) != 0
                        hit = np.logical_or.reduceat(kept, runs[g], axis=1)
                        D = np.fmin.reduceat(
                            np.where(kept, D.reshape(nc, n_g), np.nan), runs[g], axis=1
                        )
                        r, s = np.nonzero(hit)
                        D, j = D[r, s], runs[g][s]
                Ds.append(D.reshape(-1))
                rows.append(r)
                ids.append(b_ids[j])
                if has_label:
                    labels.append(glabels[g][j])
            if not Ds:  # every pair dropped for unequal lengths
                continue
            Df = cat(Ds)
            keep = Df != 0 if excl else None
            if by_label:
                key, i, d, _, rank = first_k(
                    Df, cat(rows) * len(uniques) + cat(labels), cat(ids), None, 1, keep
                )
                r, code = np.divmod(key, len(uniques))
                lab = uniques[code]
            else:
                r, i, d, lab, rank = first_k(
                    Df, cat(rows), cat(ids), cat(labels) if has_label else None, k, keep,
                )
            part = {
                "test_id": np.asarray([tids[j] for j in chunk], dtype=np.int64)[r],
                "train_id": i,
                "distance": d,
                "rank": rank,
            }
            if has_label:
                part["train_label"] = lab
            parts.append(part)
    if not parts:  # no test rows, or no pair of equal lengths
        part = {
            "test_id": np.empty(0, dtype=np.int64),
            "train_id": np.empty(0, dtype=np.int64),
            "distance": np.empty(0, dtype=np.float64),
            "rank": np.empty(0, dtype=np.int64),
        }
        if has_label:
            part["train_label"] = cat([g[2][:0] for g in groups])
        return part
    return {c: cat([p[c] for p in parts]) for c in parts[0]}


def _point_fold(kind, Tc, Gt):
    """(rows, n_g) point-metric distances of test rows ``Tc`` against a
    TRANSPOSED train matrix ``Gt`` (length, n_g). Each pair accumulates
    in index order, the SQL left fold's IEEE sequence (numpy's pairwise
    ``.sum`` and reassociating BLAS forms are not bit-equal to it);
    chebyshev's running max is order-free. Tiled over the train columns
    so the accumulator stays cache-resident across the passes over the
    length (an untiled loop re-streams the whole accumulator from DRAM on
    every pass). chebyshev folds over the first min(lengths) points."""
    import numpy as np

    nc, ng = Tc.shape[0], Gt.shape[1]
    tile = max(256, _BLOCK_PAIRS // nc)
    tiles = []
    for t0 in range(0, ng, tile):
        acc = np.zeros((nc, min(ng - t0, tile)))
        for j in range(min(Tc.shape[1], Gt.shape[0])):
            d = Tc[:, j, None] - Gt[j, t0 : t0 + tile]
            if kind in ("euclidean", "sq_euclidean"):
                np.multiply(d, d, out=d)
            else:
                np.abs(d, out=d)
            if kind == "chebyshev":
                np.maximum(acc, d, out=acc)
            else:
                acc += d
        tiles.append(np.sqrt(acc) if kind == "euclidean" else acc)
    return tiles[0] if len(tiles) == 1 else np.concatenate(tiles, axis=1)


def _gram_candidates(Tc, tn, B, bn, k: int, excl: bool):
    """(row, column) indices, row-major, of the (test chunk x train) pairs
    that can reach their row's exact top-k under the exhaustive fold.

    ``approx = |t|^2 + |b|^2 - 2 t.b`` comes from one BLAS product. Its
    distance from the fold's computed ``sum((t - b) ** 2)`` is at most
    ``delta = 4 (L + 4) (eps (|t|^2 + |b|^2) + 2^-1074)``: the relative
    term is twice the first-order rounding bound of both computations in
    any summation order (BLAS may reorder), the absolute term covers the
    subnormal range, where rounding error is absolute. A pair with
    ``approx - delta > 0`` certainly survives the d != 0 exclusion; the
    k-th smallest ``approx + delta`` among those (among all pairs when
    ``excl`` is off) is a threshold at or above the row's k-th exact
    distance, so every pair with ``approx - delta`` at or below it —
    ties at the k-th distance and zero-distance pairs included — is a
    candidate. A row with fewer than k such pairs keeps every pair."""
    import numpy as np

    bound = tn[:, None] + bn[None, :]
    approx = bound - 2.0 * (Tc @ B.T)
    slack = 4.0 * (Tc.shape[1] + 4)
    delta = slack * (np.finfo(np.float64).eps * bound + 2.0 ** -1074)
    lo = approx - delta
    kth = np.inf
    if k <= B.shape[0]:
        hi = approx + delta
        if excl:
            hi[lo <= 0] = np.inf
        kth = np.partition(hi, k - 1, axis=1)[:, k - 1 : k]
    return np.nonzero(lo <= kth)


def _drop_null_series(ids, fvals, labels, side: str, excl: bool):
    """(ids, features, labels) of one side's rows whose series is not
    NULL. A NULL series has a NULL distance to every series in the
    declarative plans: ``d != 0`` drops those pairs under ``excl``, and
    without it they would rank first, so the call fails naming ``side``."""
    keep = [i for i, f in enumerate(fvals) if f is not None]
    if len(keep) == len(fvals):
        return ids, fvals, labels
    if not excl:
        raise ValueError(
            f"the {side} side holds a NULL series (exclude_zero=True drops it)"
        )
    return tuple(None if xs is None else [xs[i] for i in keep] for xs in (ids, fvals, labels))


def _group_by_length(ids, fvals, labels):
    """(ids, ragged features, labels) -> per-length (ids, stacked matrix,
    labels) groups, ascending length for determinism."""
    import numpy as np

    from ..functions.distance import _stack_series

    by_len: dict = {}
    for i, f in enumerate(fvals):
        by_len.setdefault(len(f), []).append(i)
    groups = []
    for L in sorted(by_len):
        idxs = by_len[L]
        groups.append((
            np.asarray([ids[i] for i in idxs], dtype=np.int64),
            _stack_series([fvals[i] for i in idxs]),
            np.asarray([labels[i] for i in idxs]) if labels is not None else None,
        ))
    return groups


def _channel_series(col, c: int):
    """Channel-c series of a multichannel (array<array<double>>) column as
    a flat array. NOTE: a 2-arg lambda (even with a default arg) is read by
    F.transform as the (element, index) signature — the channel must be
    captured by this single-arg closure, never a default-arg lambda."""

    def proj(p):
        return F.element_at(p, c + 1)

    return F.transform(col, proj)


def _check_channel_parity(
    test: DataFrame,
    train: DataFrame,
    features_col: str,
    channels: Optional[int],
    who: str,
) -> bool:
    """Shared pruned/LB-path input guard: both sides must agree on flat vs
    multichannel (a mixed pair would fail opaquely inside the univariate
    sketch code — ADVICE r4), and nested input needs an explicit fixed
    ``channels`` count (the per-channel sketch expressions are unrolled at
    plan time, like ``length``). Returns True for multichannel."""
    nested = _nested_pair(test, train, features_col)
    if nested and channels is None:
        raise ValueError(
            f"{who}: multichannel series (array<array<double>>) require "
            f"channels=<fixed channel count> (sketches are unrolled per "
            f"channel at plan time, like length)"
        )
    return nested


def knn_join_pruned(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "fastdtw",
    k: int = 5,
    length: int,
    paa_segments: int = 8,
    candidates_per_test: int | None = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    channels: Optional[int] = None,
) -> DataFrame:
    """Two-phase pruned KNN (scale path; SURVEY.md §4 'worth adding').

    Phase 1 ranks candidates by squared-euclidean distance on PAA sketches
    (paa_segments means per series) — a pure codegen'd expression over arrays
    ``paa_segments/length`` the size of the originals, so the cross product
    moves ~length/paa_segments fewer bytes and the expensive metric (the DTW
    pandas_udf) never sees non-candidates. Phase 2 computes the exact metric
    on the top ``candidates_per_test`` (default 4*k) candidates only and
    re-ranks.

    For metric='euclidean' the PAA distance is a true lower bound (averaging
    inequality), so with enough candidates this is exact in practice; for DTW
    it is a (good) heuristic filter — recall measured in tests. Output schema
    = knn_join's.

    Multichannel series (array<array<double>>, one vector per timestep —
    r6, VERDICT r5 #5): pass ``channels``; the phase-1 sketch becomes the
    CONCATENATION of per-channel PAA sketches (its squared distance is the
    sum of per-channel PAA distances — the same heuristic, channel-wise)
    and phase 2 scores with the dependent-DTW kernel, so only
    metric='dtw'/'fastdtw' are supported for nested input (the kernel rule).
    """
    from ..functions.arrays import paa

    check_k(k)
    if candidates_per_test is not None and candidates_per_test < 1:
        raise ValueError(f"candidates_per_test must be >= 1, got {candidates_per_test}")
    # check BOTH sides: a multichannel train side paired with a flat test
    # side would pass a test-only guard and fail opaquely in the univariate
    # PAA code downstream (ADVICE r4)
    nested = _check_channel_parity(
        test, train, features_col, channels, "knn_join_pruned"
    )
    if nested and (callable(metric) or metric not in ("dtw", "fastdtw")):
        raise ValueError(
            f"multichannel series support metric='dtw'/'fastdtw' only, got {metric!r}"
        )

    def _sketch(col):
        if not nested:
            return paa(col, paa_segments, length)
        return F.concat(
            *[
                paa(_channel_series(col, c), paa_segments, length)
                for c in range(channels)
            ]
        )

    C = candidates_per_test if candidates_per_test is not None else 4 * k
    t, r = _sides(
        test, train, id_col, features_col, label_col,
        t_extra=[_sketch(F.col(features_col)).alias("_tp")],
        r_extra=[_sketch(F.col(features_col)).alias("_rp")],
    )

    # phase 1: sketch-space candidate generation (ids + sketches only).
    # strategy='chunked' (r5): at 100 TB even the SKETCH side is ~1/70th of
    # the corpus — far past broadcast range — so phase 1 is itself a
    # too-big-to-broadcast KNN; the block scorer serves it (sketches are
    # fixed-length by construction). Candidate RANKING is identical up to
    # fp near-ties at the C-th boundary (numpy vs SQL-fold ulp), which is
    # inside the prefilter's heuristic contract.
    t1 = t.select("test_id", "_tp")
    r1 = r.select("train_id", "_rp")
    if strategy == "chunked":
        cands = knn_join(
            t1.select(F.col("test_id").alias("sid"), F.col("_tp").alias("feat")),
            r1.select(F.col("train_id").alias("sid"), F.col("_rp").alias("feat")),
            metric="sq_euclidean",
            k=C,
            strategy="chunked",
            id_col="sid",
            features_col="feat",
            label_col=None,
            exclude_zero=False,
        ).select("test_id", "train_id")
    else:
        coarse = t1.crossJoin(F.broadcast(r1) if strategy == "broadcast" else r1)
        coarse = coarse.withColumn("_cd", sq_euclidean(F.col("_tp"), F.col("_rp")))
        cands = _top_candidates(coarse, C, "_cd")

    # phase 2: exact metric on candidates only
    dist, squared = _pair_distance(metric, band, fastdtw_radius, test, train, features_col)
    pairs = _score_pairs(cands, t.select("test_id", "_tf"), r.drop("_rp"), dist, exclude_zero)
    return _rank_tail(pairs, k, label_col, squared=squared)


def _top_candidates(pairs: DataFrame, C: int, by: str) -> DataFrame:
    """Phase 1 of the pruned family: the C (test_id, train_id) pairs per
    test with the smallest ``by`` (ties by train_id)."""
    return topk_per_key(
        pairs, "test_id", [F.asc(by), F.asc("train_id")], C, rank_col="_crank"
    ).select("test_id", "train_id")


def _probe_np(x):
    """Arrow-collected feature cells arrive as numpy arrays (flat) or
    object arrays of per-timestep arrays (nested) — stack the latter to a
    dense (L, C) float matrix for the probe's numpy twins."""
    import numpy as np

    arr = np.asarray(x)
    if arr.dtype == object:
        return np.stack([np.asarray(t, dtype=np.float64) for t in x])
    return np.asarray(arr, dtype=np.float64)


def _estimated_prune_rate(
    test: DataFrame,
    train: DataFrame,
    *,
    id_col: str,
    features_col: str,
    lb_np,
    dist_many,
    C: int,
    k: int,
    probe_n: int,
    exclude_zero: bool,
    len_hint: Optional[int] = None,
    max_probe_bytes: int = 32 << 20,
    max_probe_rows: int = 1024,
) -> Optional[float]:
    """Sampled prune-rate probe for the lossless LB prefilters (r8,
    VERDICT r7 #5): replays phases 1-2 of filter-and-verify DRIVER-SIDE
    on a deterministic sample — ``probe_n`` test rows x a capped train
    sample — through the numpy twins of the LB sketch (``lb_np``) and
    the exact metric (``dist_many``, batched: (query, [candidates]) ->
    distances, so callers score the C candidates in ONE compiled-kernel
    call instead of C Python DP loops — ADVICE r8). Returns the
    estimated fraction of PHASE-3-ELIGIBLE pairs the bound would prune
    (LB > tau under the same slacked filter phase 3 uses), or None when
    either sample is empty OR the replay raises (caller keeps the
    prefilter — the distributed plan's NULL semantics handle inputs the
    numpy twins reject, e.g. rows shorter than ``length``; enabling the
    gate must never introduce a failure mode the un-gated plan lacks —
    ADVICE r8).

    Sampling (ADVICE r8): both sides order by (crc32(id), id) — a
    deterministic HASH-SPREAD sample, not lowest-ids — so id-clustered
    corpora (labels correlated with id ranges) don't bias the estimate.
    The C already-scored phase-1 candidates are EXCLUDED from the
    pruned/total tally: they are anti-joined out of phase 3 and can
    never be pruned, so counting them deflated the estimate near the
    routing threshold.

    Collect shape: ONE Spark job (a union of two TakeOrderedAndProject
    subplans, Arrow transfer) — a second job's fixed latency would cost
    more than the whole numpy replay. The train sample is capped at
    ``max_probe_rows`` rows and, when the caller knows the series length
    (``len_hint`` = points x channels), additionally at
    ``max_probe_bytes`` — bounded metadata, never corpus-sized. Without
    a hint the row cap alone bounds it (1024 rows x L doubles; the
    elastic metrics' own O(L^2)-cells-per-pair cost makes huge-L inputs
    infeasible for the operator long before the probe matters).

    Why driver-side: the probe is a ROUTING heuristic, not a correctness
    device (both branches are exact), and an in-plan probe costs 5+
    Spark stages of fixed latency (~1.2s measured) — more than the
    decision is worth (bench: lb_gate)."""
    import numpy as np

    cap = max_probe_rows
    if len_hint:
        cap = int(max(64, min(max_probe_rows, max_probe_bytes // max(1, len_hint * 8))))

    def side(df, tag, n):
        return (
            df.select(
                F.lit(tag).alias("_side"),
                F.col(id_col).alias("_id"),
                F.col(features_col).alias("_f"),
            )
            .orderBy(F.crc32(F.col("_id").cast("string")), F.col("_id"))
            .limit(n)
        )

    pdf = side(test, 0, probe_n).unionByName(side(train, 1, cap)).toPandas()
    s = [
        (i, f) for sd, i, f in zip(pdf["_side"], pdf["_id"].tolist(), pdf["_f"].tolist())
        if sd == 0
    ]
    t = [
        (i, f) for sd, i, f in zip(pdf["_side"], pdf["_id"].tolist(), pdf["_f"].tolist())
        if sd == 1
    ]
    if not s or not t:
        return None
    t_feats = [f for _, f in t]
    pruned = total = 0
    try:
        for _, qf in s:
            lbs = np.asarray(lb_np(qf, t_feats), dtype=np.float64)
            order = sorted(range(len(t)), key=lambda i: (lbs[i], t[i][0]))
            cand = order[:C]
            ds = []
            for i, d in zip(cand, dist_many(qf, [t[i][1] for i in cand])):
                d = float(d)
                if exclude_zero and d == 0:
                    continue
                ds.append(d)
            ds.sort()
            tau = ds[k - 1] if len(ds) >= k else float("inf")
            tau = tau * (1.0 + 1e-9) + 1e-12
            cand_set = set(cand)
            rest = [i for i in range(len(t)) if i not in cand_set]
            pruned += int((lbs[rest] > tau).sum())
            total += len(rest)
    except Exception:
        return None
    return pruned / total if total else None


def _batch_by_shape(arrs, fn) -> list:
    """Run the batch kernel ``fn`` once per shape group of ``arrs`` (each
    call stays rectangular for ragged inputs); one float per input, in
    input order."""
    import numpy as np

    out = [0.0] * len(arrs)
    groups: dict = {}
    for i, a in enumerate(arrs):
        groups.setdefault(a.shape, []).append(i)
    for idxs in groups.values():
        dv = fn(np.stack([arrs[i] for i in idxs]))
        for j, i in enumerate(idxs):
            out[i] = float(dv[j])
    return out


def _probe_bypasses(
    test, train, *, min_prune_rate: float, prune_probe: int, pair_np, lb_np, **probe_kw
) -> bool:
    """The sampled prune-rate gate of the lossless LB prefilters (r8,
    VERDICT r7 #5): True when ``_estimated_prune_rate`` says the bound
    won't pay, i.e. the caller should bypass to brute force (kernel
    strategy — bit-identical result, own chunked byte-guard). Default
    min_prune_rate=0.0 keeps the prefilter unconditionally (the
    oracle-proof queries must exercise it deterministically).

    Probe candidates score through the compiled/prefix-scan BATCH kernel
    ``pair_np`` (ADVICE r8): a per-pair Python DP loop cost
    probe_n*C*O(L^2) single-threaded driver seconds at 561-pt scale —
    more than the routing decision is worth."""
    if not (min_prune_rate > 0.0 and prune_probe > 0):
        return False
    import numpy as np

    def dist_many(qf, feats):
        q = _probe_np(qf)
        return _batch_by_shape(
            [_probe_np(f) for f in feats],
            lambda B: pair_np(np.ascontiguousarray(np.broadcast_to(q, B.shape[:1] + q.shape)), B),
        )

    est = _estimated_prune_rate(
        test, train, lb_np=lb_np, dist_many=dist_many, probe_n=prune_probe, **probe_kw
    )
    return est is not None and est < min_prune_rate


def _brute_fallback(
    test: DataFrame,
    train: DataFrame,
    *,
    metric,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    **metric_kw,
) -> DataFrame:
    """Brute-force knn_join through the kernel strategy — the bypass
    target when the probe says the bound won't pay. Every knn_join route
    already emits the LB functions' column order. Bit-identical to the
    prefiltered plan (equality-tested for every metric); the kernel
    strategy carries its own byte-guarded chunked fallback, so the bypass
    keeps the 100 TB shape."""
    return knn_join(
        test,
        train,
        metric=metric,
        k=k,
        strategy="kernel",
        id_col=id_col,
        features_col=features_col,
        label_col=label_col,
        exclude_zero=exclude_zero,
        **metric_kw,
    )


def _filter_verify(
    test: DataFrame,
    train: DataFrame,
    t_sk: DataFrame,
    r_sk: DataFrame,
    lb: Column,
    dist: Column,
    *,
    C: int,
    k: int,
    strategy: str,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
) -> DataFrame:
    """THE lossless filter-and-verify core shared by knn_join_lb and
    knn_join_lb_metric: the caller supplies the sketch sides (test_id /
    train_id plus sketch columns), the admissible bound ``lb`` over them
    and the exact distance ``dist`` over _tf/_rf.

    1. candidates: sketch cross join -> _lb -> top-C per test by
       (_lb, train_id).
    2. verify: the exact metric scores ONLY those C pairs; the k-th best
       scored distance tau upper-bounds the true k-th distance.
    3. completeness: every unscored pair with _lb <= tau is scored too
       (anything with _lb > tau provably cannot enter the top-k, ties
       included since the tie order starts with distance). Union + re-rank.

    Both cross joins move only ids + sketches; full arrays are joined back
    by id for the scored subset only; the per-test intermediates
    (candidates, scores, tau) are O(C) rows and cached via
    register_cache, the pair-level LB table is recomputed (codegen)
    rather than cached."""
    from ..caching import register_cache

    # _lb comes out of a generator: phase 3's filter on it would otherwise
    # infer isnotnull(<lb>) into the cross join's condition and evaluate
    # the bound twice per pair (functions/distance.py::with_distance)
    lbp = t_sk.crossJoin(
        F.broadcast(r_sk) if strategy == "broadcast" else r_sk
    ).select("test_id", "train_id", F.explode(F.array(lb)).alias("_lb"))
    t, r = _sides(test, train, id_col, features_col, label_col)

    def score(ids: DataFrame) -> DataFrame:
        return _score_pairs(ids, t, r, dist, exclude_zero)

    # phase 1+2: score the C most-promising pairs. cands/scored1 are O(C)
    # rows per test and feed two consumers each — cached (scope-managed)
    # so the kernel scores each candidate exactly once.
    cands = register_cache(_top_candidates(lbp, C, "_lb").cache())
    scored1 = register_cache(score(cands).cache())

    # tau = k-th best scored distance per test (inf when fewer than k
    # survivors: then nothing can be pruned and phase 3 degenerates to
    # the remaining brute force — correctness never depends on C)
    thresh = register_cache(
        scored1.groupBy("test_id")
        .agg(F.sort_array(F.collect_list("_d")).alias("_ds"))
        .select(
            "test_id",
            F.when(F.size("_ds") >= k, F.element_at("_ds", k))
            .otherwise(F.lit(float("inf")))
            .alias("_tau"),
        )
        .cache()
    )
    # Eagerly land the three O(C)-row caches BEFORE the final job: left
    # lazy, the phase-3 plan holds cands/scored1/thresh as uncached
    # branches of ONE DAG and re-runs the expensive kernel per consumer
    # (measured 5x the end-to-end cost at 44k pairs). One tiny action
    # materializes all three transitively.
    thresh.count()

    # phase 3: any unscored pair the bound cannot rule out. LEFT join:
    # thresh only has rows for tests with >=1 scored phase-1 survivor —
    # with exclude_zero a test whose top-C candidates all score exactly 0
    # (duplicate-heavy corpora) has NO thresh row, and an inner join would
    # silently drop its every phase-3 pair (the test would emit no rows
    # where brute force returns its non-zero neighbors). Missing tau
    # coalesces to +inf => that test degrades to brute force. The filter
    # also carries a small relative slack: the bound holds in exact
    # arithmetic, but the folds computing LB and tau round — without
    # slack a true top-k pair sitting exactly at tau could be wrongly
    # pruned (ultra-rare). Extra survivors only cost verify time, never
    # correctness.
    tau_eff = F.coalesce(F.col("_tau"), F.lit(float("inf")))
    rest = (
        lbp.join(thresh, "test_id", "left")
        .filter(F.col("_lb") <= tau_eff * (1.0 + 1e-9) + 1e-12)
        .join(cands, ["test_id", "train_id"], "left_anti")
        .select("test_id", "train_id")
    )
    return _rank_tail(scored1.unionByName(score(rest)), k, label_col)


def knn_join_lb(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "fastdtw",
    k: int = 5,
    length: int,
    paa_segments: int = 8,
    candidates_per_test: int | None = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    channels: Optional[int] = None,
    min_prune_rate: float = 0.0,
    prune_probe: int = 8,
) -> DataFrame:
    """EXACT pruned DTW/FastDTW KNN via an admissible lower bound
    (filter-and-verify; SURVEY.md §4's "LB prefilter worth adding" row,
    upgraded from knn_join_pruned's heuristic PAA filter to a provably
    lossless one).

    The bound (LB_Keogh family, |.| point cost): for any warp path, cell
    (0,0) costs |q_0-c_0|, cell (n-1,n-1) costs |q_last-c_last|, and every
    middle element c_j aligns to SOME q_i its band allows, costing at least
    its hinge distance to the envelope of q over that band:

        U_j = max(q[j-r .. j+r]),  L_j = min(q[j-r .. j+r])
        cost_j >= max(0, c_j - U_j, L_j - c_j)

    with r = the Sakoe-Chiba half-width for banded DTW, or r = length
    (global envelope — LB_Yi/LB_Kim) when the warp is unconstrained.
    Averaging c over PAA blocks and widening the envelope to the block's
    extremes keeps the bound admissible (the hinge is convex in c — Jensen;
    widening U/L only lowers it), so the filter runs over sketch-sized
    data:

        LB_paa(q, c) = |q_0-c_0| + |q_last-c_last|
                       + seg_w * sum_b hinge(paa_b(c_mid), L_b, U_b)
        LB_paa <= LB_Keogh(r) <= banded DTW(r)            [band=r]
        LB_paa <= LB_envelope <= exact DTW <= FastDTW     [band=None;
                                    the FastDTW path is a real warp path]

    so the chain is admissible for metric='dtw' (banded or not) AND
    metric='fastdtw' (any radius; a caller band overrides to banded DTW,
    mirroring _resolve_metric). Three declarative phases (the shared
    ``_filter_verify`` core):

    1. candidates: sketch-space cross join -> LB_paa (pure codegen over
       paa_segments-sized arrays) -> top-C per test by (LB, train_id).
    2. verify: the expensive kernel scores ONLY those C pairs; the k-th
       best scored distance tau upper-bounds the true k-th distance
       (the scored set is a subset of all pairs).
    3. completeness: every unscored pair with LB_paa <= tau is scored too
       (anything with LB > tau provably cannot enter the top-k, ties
       included since the tie order starts with distance). Union + re-rank.

    Result is bit-identical to the brute-force knn_join under the same
    metric and tie order (proven by q86's brute-force DuckDB oracle and
    equality tests). Pruning POWER is data- and band-dependent: the banded
    envelope is tight (most pairs die in phase 1), while the unconstrained
    global envelope is information-theoretically weak on structureless
    series (measured in tests; same caveat family as ann_lsh recall on
    random embeddings — NOTES.md) though correctness never depends on it.
    Scale shape: both cross joins move only ids + O(paa_segments) sketches;
    full arrays are joined back by id for the scored subset only; the
    per-test intermediates (candidates, scores, tau) are O(C) rows and
    cached via register_cache, the pair-level LB table is recomputed
    (codegen) rather than cached.

    Multichannel series (array<array<double>>, one vector per timestep —
    r6, VERDICT r5 #5): pass ``channels``. Dependent DTW scores ONE shared
    warp path with the per-channel SUMMED |a-b| point cost, so each
    channel's envelope bound holds for that same path independently and
    the per-channel LBs ADD:

        sum_ch LB_paa_ch(q, c) <= sum_ch cost_ch(path) = dependent DTW

    — admissibility is preserved channel-wise, and the result stays
    bit-identical to brute-force knn_join on the same multichannel input
    (q156's oracle is exactly q113's brute-force DP).
    """
    from ..functions.arrays import paa

    check_k(k)
    if callable(metric) or metric not in ("dtw", "fastdtw"):
        raise ValueError("knn_join_lb requires metric='dtw' or 'fastdtw'")
    nested = _check_channel_parity(test, train, features_col, channels, "knn_join_lb")
    n_ch = channels if nested else 1

    def _chan(col, c):
        # channel-c series as a flat array (identity for flat input)
        return _channel_series(col, c) if nested else col

    C = max(candidates_per_test if candidates_per_test is not None else 4 * k, k)
    r_env = band if band is not None else length

    mid_len = length - 2
    nseg = min(paa_segments, mid_len) if mid_len > 0 else 0
    seg_w = (mid_len // nseg) if nseg else 0

    # test sketch: per-channel endpoints + per-block banded envelope
    # extremes. Block b covers middle positions [s_b, s_b + seg_w - 1]
    # (1-based); its envelope slice widens by r_env on both sides, clipped
    # to the series — for r_env = length that degenerates to the global
    # min/max.
    t_cols = [F.col(id_col).alias("test_id")]
    for c in range(n_ch):
        chf = _chan(F.col(features_col), c)
        t_cols.append(F.element_at(chf, 1).alias(f"_q0_{c}"))
        t_cols.append(F.element_at(chf, length).alias(f"_ql_{c}"))
        for b in range(nseg):
            s_b = 2 + b * seg_w
            lo_pos = max(1, s_b - r_env)
            hi_pos = min(length, s_b + seg_w - 1 + r_env)
            sl = F.slice(chf, lo_pos, hi_pos - lo_pos + 1)
            t_cols.append(F.array_max(sl).alias(f"_u{b}_{c}"))
            t_cols.append(F.array_min(sl).alias(f"_l{b}_{c}"))
    r_sk_cols = [F.col(id_col).alias("train_id")]
    for c in range(n_ch):
        chf = _chan(F.col(features_col), c)
        r_sk_cols.append(F.element_at(chf, 1).alias(f"_r0_{c}"))
        r_sk_cols.append(F.element_at(chf, length).alias(f"_rl_{c}"))
        if nseg:
            r_sk_cols.append(
                paa(F.slice(chf, 2, seg_w * nseg), nseg, seg_w * nseg).alias(f"_rp_{c}")
            )

    lb = None
    for c in range(n_ch):
        term = F.abs(F.col(f"_q0_{c}") - F.col(f"_r0_{c}")) + F.abs(
            F.col(f"_ql_{c}") - F.col(f"_rl_{c}")
        )
        lb = term if lb is None else lb + term
    if nseg:
        hinges = [
            F.greatest(
                F.lit(0.0),
                F.element_at(f"_rp_{c}", b + 1) - F.col(f"_u{b}_{c}"),
                F.col(f"_l{b}_{c}") - F.element_at(f"_rp_{c}", b + 1),
            )
            for c in range(n_ch)
            for b in range(nseg)
        ]
        hinge_sum = hinges[0]
        for h in hinges[1:]:
            hinge_sum = hinge_sum + h
        lb = lb + F.lit(float(seg_w)) * hinge_sum

    def lb_np(qf, feats):
        # numpy twin of the PAA-envelope LB above (1-based blocks over
        # the middle, envelope widened by r_env, clipped; per-channel
        # sums for nested rows) — router only, no bit-parity needed
        import numpy as np

        q = _probe_np(qf)
        if q.ndim == 1:
            q = q[:, None]
        q0, ql = q[0], q[length - 1]
        blocks = []
        for b_i in range(nseg):
            s_b = 2 + b_i * seg_w
            lo = max(1, s_b - r_env)
            hi = min(length, s_b + seg_w - 1 + r_env)
            sl = q[lo - 1 : hi]
            blocks.append((sl.max(axis=0), sl.min(axis=0)))
        out = []
        for f in feats:
            csr = _probe_np(f)
            if csr.ndim == 1:
                csr = csr[:, None]
            lbv = float(np.abs(q0 - csr[0]).sum() + np.abs(ql - csr[length - 1]).sum())
            if nseg:
                paa_b = csr[1 : 1 + seg_w * nseg].reshape(nseg, seg_w, -1).mean(axis=1)
                hs = 0.0
                for b_i, (ub, lo_b) in enumerate(blocks):
                    hs += float(
                        np.maximum(0.0, np.maximum(paa_b[b_i] - ub, lo_b - paa_b[b_i])).sum()
                    )
                lbv += seg_w * hs
            out.append(lbv)
        return out

    # on structureless series the envelope bound prunes ~nothing, and the
    # prefilter's sketch pass is a full extra scan for zero benefit
    pair_np = batch_kernel(metric, band=band, radius=fastdtw_radius)
    if _probe_bypasses(
        test, train, min_prune_rate=min_prune_rate, prune_probe=prune_probe,
        pair_np=pair_np, lb_np=lb_np, id_col=id_col, features_col=features_col,
        C=C, k=k, exclude_zero=exclude_zero, len_hint=length * n_ch,
    ):
        return _brute_fallback(
            test, train, metric=metric, k=k, id_col=id_col,
            features_col=features_col, label_col=label_col,
            exclude_zero=exclude_zero, band=band,
            fastdtw_radius=fastdtw_radius,
        )
    dist, _ = _pair_distance(metric, band, fastdtw_radius, test, train, features_col)
    return _filter_verify(
        test, train, test.select(*t_cols), train.select(*r_sk_cols), lb, dist,
        C=C, k=k, strategy=strategy, id_col=id_col, features_col=features_col,
        label_col=label_col, exclude_zero=exclude_zero,
    )


def knn_join_lb_metric(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: str = "twed",
    k: int = 5,
    candidates_per_test: Optional[int] = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    min_prune_rate: float = 0.0,
    prune_probe: int = 8,
    channels: Optional[int] = None,
) -> DataFrame:
    """EXACT pruned KNN for the elastic METRIC family (ERP / TWED / MSM)
    via the triangle-inequality anchor bound (r7 — the edit-family
    sibling of ``knn_join_lb``'s LB_Keogh envelope for DTW):

        d(a, b) >= | d(a, z) - d(b, z) |        for any fixed anchor z

    valid BECAUSE these three are true metrics (Chen & Ng 2004 for ERP;
    Marteau 2009 for TWED; Stefan, Athitsos & Das 2013 for MSM — the
    triangle inequality is also property-fuzzed in tests). The anchor
    reference d(x, z) is ONE linear fold per series, computed once per
    side: ERP against the empty series (d(x, {}) = sum |x_i - g|, the
    DP's own border column) and TWED/MSM against the one-point series
    z = [0]. The pair-level filter then moves only (id, scalar) — even
    cheaper than a PAA sketch — and the same three lossless phases as
    knn_join_lb (the shared ``_filter_verify`` core) run on top:

    1. candidates: scalar cross join -> |ref_a - ref_b| -> top-C per
       test by (LB, train_id);
    2. verify: the exact metric expression scores ONLY those C pairs;
       the k-th scored distance tau upper-bounds the true k-th;
    3. completeness: every unscored pair with LB <= tau is also scored
       (LB > tau provably cannot enter the top-k, ties included since
       the tie order starts with distance). Union + re-rank.

    Result is bit-identical to brute-force ``knn_join`` under the same
    metric and tie order (equality-tested; q195's oracle IS the brute
    TWED recursion). Pruning POWER is data-dependent: a single scalar
    bound is information-weak when anchor distances bunch (the global-
    envelope caveat, NOTES.md) — correctness never depends on it.
    LCSS/EDR are deliberately rejected: they violate the triangle
    inequality, so no anchor bound is admissible for them.
    """
    from ..functions.edit_distance import (
        ERP_GAP,
        make_erp_udf,
        make_msm_udf,
        make_twed_udf,
        msm_dist,
        multichannel,
        twed_dist,
    )

    check_k(k)
    if metric not in ("erp", "twed", "msm"):
        raise ValueError(
            "knn_join_lb_metric requires a TRUE metric: 'erp', 'twed' or "
            f"'msm' (LCSS/EDR have no triangle inequality), got {metric!r}"
        )
    nested = _check_channel_parity(
        test, train, features_col, channels, "knn_join_lb_metric"
    )
    # verify phase scores through the Arrow pair kernels (C route when a
    # compiler exists) — bit-identical to the Catalyst folds (test-pinned),
    # and the survivors of a weak bound can approach the full pair set, so
    # the scorer must run at kernel speed, not interpreted-HOF speed.
    # Multichannel input stacks to (P, L, C) inside the same kernels
    # (_grouped_pairs_udf -> _mc_dp), so fn needs no lifting here.
    fn = {"erp": make_erp_udf, "twed": make_twed_udf, "msm": make_msm_udf}[metric]()
    if nested:
        # r8: multichannel anchor refs. The independent-channel-sum lift
        # of a metric is a metric (q188's argument), so the anchor bound
        # holds for the SUMMED distance with ref(x) = sum_c d_c(x_c, z).
        # TWED/MSM: the mc lift against one all-zero timestep with x's own
        # channel count; ERP: d(x, {}) = sum over timesteps of per-channel
        # |v - g| sums (add order differs from channel-major by rounding
        # only — phase 3's relative slack absorbs that).
        if metric == "erp":
            ref = lambda x: F.aggregate(
                x,
                F.lit(0.0),
                lambda acc, t: acc
                + F.aggregate(
                    t, F.lit(0.0), lambda a2, v: a2 + F.abs(v - F.lit(float(ERP_GAP)))
                ),
            )
        else:
            mc = multichannel(twed_dist if metric == "twed" else msm_dist)
            ref = lambda x: mc(
                x, F.array(F.transform(F.element_at(x, 1), lambda _v: F.lit(0.0)))
            )
    else:
        anchor = F.array(F.lit(0.0))
        if metric == "erp":
            # d(x, {}) = sum |x_i - g| — the DP's own border column, exact
            ref = lambda x: F.aggregate(
                x, F.lit(0.0), lambda acc, v: acc + F.abs(v - F.lit(float(ERP_GAP)))
            )
        elif metric == "twed":
            ref = lambda x: twed_dist(x, anchor)
        else:
            ref = lambda x: msm_dist(x, anchor)

    C = max(candidates_per_test if candidates_per_test is not None else 4 * k, k)
    pair_np = batch_kernel(metric)

    def refs_np(feats):
        # numpy twin of ``ref`` through the batch kernels: the anchor is
        # one all-zero timestep with the row's own channel count
        import numpy as np

        arrs = [_probe_np(f) for f in feats]
        if metric == "erp":
            return [float(np.abs(a - float(ERP_GAP)).sum()) for a in arrs]
        return _batch_by_shape(arrs, lambda A: pair_np(A, np.zeros((len(A), 1) + A.shape[2:])))

    # anchor refs of the (fixed) train sample: computed ONCE, not per
    # probed query (probe_n redundant O(L) DP sweeps each — ADVICE r8)
    train_refs: dict = {}

    def lb_np(qf, feats):
        if id(feats) not in train_refs:
            train_refs[id(feats)] = refs_np(feats)
        rq = refs_np([qf])[0]
        return [abs(rq - r) for r in train_refs[id(feats)]]

    # the scalar anchor bound is information-weak when anchor distances
    # bunch — probe driver-side first
    if _probe_bypasses(
        test, train, min_prune_rate=min_prune_rate, prune_probe=prune_probe,
        pair_np=pair_np, lb_np=lb_np, id_col=id_col, features_col=features_col,
        C=C, k=k, exclude_zero=exclude_zero,
    ):
        return _brute_fallback(
            test, train, metric=metric, k=k, id_col=id_col,
            features_col=features_col, label_col=label_col,
            exclude_zero=exclude_zero,
        )
    return _filter_verify(
        test,
        train,
        test.select(F.col(id_col).alias("test_id"), ref(F.col(features_col)).alias("_ta")),
        train.select(F.col(id_col).alias("train_id"), ref(F.col(features_col)).alias("_ra")),
        F.abs(F.col("_ta") - F.col("_ra")),
        fn(F.col("_tf"), F.col("_rf")),
        C=C, k=k, strategy=strategy, id_col=id_col, features_col=features_col,
        label_col=label_col, exclude_zero=exclude_zero,
    )


def knn_classify(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    k: int = 5,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
) -> DataFrame:
    """Full reference pipeline: similarity join -> top-k -> majority vote.

    Output: (test_id, predicted_label).
    """
    neighbors = knn_join(
        test,
        train,
        metric=metric,
        k=k,
        strategy=strategy,
        id_col=id_col,
        features_col=features_col,
        label_col=label_col,
        exclude_zero=exclude_zero,
        band=band,
        fastdtw_radius=fastdtw_radius,
    )
    return majority_vote(neighbors, key="test_id", label="train_label", rank="rank")


def knn_predict_1nn(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
) -> DataFrame:
    """Model-2 fast path (SURVEY.md §2.4 A6): k=1 via min_by aggregate — a
    partial/final aggregate (map-side combine), no window at all.

    Reference: ``reduceByKey(lambda a, b: a if a[0] < b[0] else b)``
    (Team11-Project.py:546), made deterministic by tie-breaking on
    (distance, train_label, train_id).

    Output: (test_id, predicted_label, distance).
    """
    if strategy not in ("broadcast", "shuffle"):
        # the min_by aggregate IS the fast path here — there is no kernel/
        # chunked variant; reject silently-ignored strategies (a "kernel"
        # caller would get an unhinted cross join without noticing)
        raise ValueError(
            f"knn_predict_1nn supports strategy 'broadcast' or 'shuffle', got {strategy!r}"
        )
    pairs, rank_squared = _cross_pairs(
        test, train, metric=metric, strategy=strategy, id_col=id_col,
        features_col=features_col, label_col=label_col,
        exclude_zero=exclude_zero, band=band, fastdtw_radius=fastdtw_radius,
    )
    agg = pairs.groupBy("test_id").agg(
        F.min_by(
            F.struct("train_label", "_d"), F.struct("_d", "train_label", "train_id")
        ).alias("_best")
    )
    distance = F.col("_best._d")
    if rank_squared:
        distance = F.sqrt(distance)
    return agg.select(
        "test_id",
        F.col("_best.train_label").alias("predicted_label"),
        distance.alias("distance"),
    )


def knn_lof(
    df: DataFrame,
    *,
    k: int = 5,
    metric: MetricT = "euclidean",
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """Local Outlier Factor (Breunig et al., SIGMOD 2000) over an
    all-vs-all KNN self-join — density-relative anomaly scores where a
    global distance threshold fails (a point is an outlier relative to
    ITS OWN neighborhood's density):

        kdist(p)       = distance to p's FARTHEST retained neighbor
        reach(p, o)    = max(kdist(o), d(p, o))
        lrd(p)         = |N(p)| / sum_{o in N(p)} reach(p, o)
        LOF(p)         = (sum_{o in N(p)} lrd(o) / |N(p)|) / lrd(p)

    N(p) is the deterministic rank-1..k set under the engine's total tie
    order (distance, id) — the "exactly k neighbors" sklearn variant,
    not the <=k-distance ball — identical on any engine given the same
    ranking. |N(p)| is p's ACTUAL neighbor count: under the default
    ``exclude_zero`` (the engine's P7 self-match rule, which also drops
    exact-duplicate pairs) a point with duplicates can retain FEWER than
    k neighbors, and using its real count keeps every such point in the
    output with a well-defined score (r6 review fix: the earlier
    rank==k formulation silently dropped those points AND shortened
    their neighbors' reach sums while still dividing by k — a planted
    far outlier scored < 1 on a corpus with one duplicate pair). Points
    with ZERO retained neighbors (only duplicates of themselves in the
    corpus) still drop — no neighborhood, no density. With
    exclude_zero=False, duplicate points get reach sums of 0 and inf
    lrds (the textbook duplicate pathology).

    Output: (id_col, kdist, lrd, lof) — raw doubles, bit-exact across
    engines UNDER THE DEFAULT broadcast/shuffle strategies: every float
    sum folds over the RANK-SORTED neighbor list (never an unordered
    groupBy float sum) and all other ops are single correctly-rounded
    IEEE ops (sqrt/max/divide). strategy='kernel'/'chunked' return the
    same neighbor sets ~2x faster, but their numpy pairwise summation
    reassociates the distance folds, so kdist/lrd/lof can move in the
    last ulps — use the default when hash-exact output matters.

    Scale: one knn_join (any strategy incl. kernel/chunked) + two
    id-keyed equi-joins on k-row-per-id tables + two bounded-array folds
    — nothing quadratic beyond the KNN itself.
    """
    from ..caching import register_cache

    # The ranked-neighbor table feeds THREE consumers (kdist max, the
    # reach-dist join, the neighbors'-lrd join); uncached, each one
    # re-runs the all-vs-all KNN join — the whole cost of the operator,
    # three times over (the shapelet_stump cache-once pattern, VERDICT
    # r6 #2). Cached it is k rows per id — tiny next to the pair volume
    # it replaces. register_cache: LRU-evictable outside a cache_scope.
    nn = register_cache(
        knn_join(
            df,
            df,
            metric=metric,
            k=k,
            strategy=strategy,
            id_col=id_col,
            features_col=features_col,
            label_col=None,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
            max_broadcast_bytes=max_broadcast_bytes,
        )
        .select("test_id", "train_id", "rank", "distance")
        .cache()
    )
    # kdist = the farthest RETAINED neighbor (exact max), n_nb = the
    # actual neighborhood size — both defined for every point with >= 1
    # retained neighbor, so duplicates never silently vanish
    kd = nn.groupBy(F.col("test_id").alias("_oid")).agg(
        F.max("distance").alias("kdist")
    )
    # reach-dist toward each neighbor o uses o's OWN k-distance
    reach = nn.join(kd, nn.train_id == kd._oid).select(
        "test_id",
        "rank",
        F.greatest(F.col("kdist"), F.col("distance")).alias("_rd"),
    )

    def _rank_fold(col_r: str, col_v: str, values: DataFrame, key: str):
        g = values.groupBy(key).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(col_r).alias("r"), F.col(col_v).alias("v")))
            ).alias("_nb")
        )
        return g.select(
            F.col(key),
            F.aggregate(F.col("_nb"), F.lit(0.0), lambda a, x: a + x["v"]).alias("_s"),
            F.size("_nb").cast("double").alias("_cnt"),
        )

    # lrd also has two consumers (the neighbors'-lrd join and the final
    # assembly join); 1 row per id, so caching it costs nothing and
    # saves re-running the reach join + fold.
    lrd = register_cache(
        _rank_fold("rank", "_rd", reach, "test_id")
        .select(
            F.col("test_id").alias("_lid"),
            (F.col("_cnt") / F.col("_s")).alias("lrd"),
        )
        .cache()
    )
    # each point's neighbors' lrds, rank-ordered
    nbl = nn.join(lrd, nn.train_id == lrd._lid).select("test_id", "rank", F.col("lrd").alias("_lo"))
    slo = _rank_fold("rank", "_lo", nbl, "test_id")
    out = (
        slo.join(lrd, slo.test_id == lrd._lid)
        .join(kd, slo.test_id == kd._oid)
        .select(
            F.col("test_id").alias(id_col),
            F.col("kdist"),
            F.col("lrd"),
            ((F.col("_s") / F.col("_cnt")) / F.col("lrd")).alias("lof"),
        )
    )
    return out


def knn_impute(
    df: DataFrame,
    *,
    k: int = 3,
    id_col: str = "series_id",
    features_col: str = "features",
) -> DataFrame:
    """KNN imputation over series with missing (NULL) points (r6): each
    missing position is filled with the mean of its k nearest DONOR
    series' values there — the classic co-observation KNN imputer
    (Troyanskaya et al. 2001, KNNimpute), the data-cleaning primitive a
    real telemetry corpus needs before any fixed-length operator.

    Distance = mean squared difference over CO-OBSERVED positions only
    (sum of per-position squared diffs where both sides are non-NULL,
    divided by the observed count — one exact division; pairs with no
    overlap drop out). Donors ranked (msd ASC, donor_id ASC), self
    excluded BY ID (a zero distance from an identical donor is still a
    legitimate donor). At each missing position, donors that are ALSO
    NULL there are filtered BEFORE the rank-ordered mean fold, so the
    fold is deterministic and a donor shortage degrades gracefully
    (n_donors < k); positions no donor observed stay NULL.

    Output: one row per MISSING position — (id_col, t, n_donors,
    imputed). Raw doubles, engine-exact (filtered ascending folds, exact
    divisions). Scale: one broadcast cross join pre-capped by the rank
    window (the KNN pair volume), one posexplode of missing positions,
    one bounded k-row fold per position.
    """
    a = df.select(F.col(id_col).alias("_aid"), F.col(features_col).alias("_af"))
    b = df.select(F.col(id_col).alias("_bid"), F.col(features_col).alias("_bf"))
    diffs = F.zip_with(
        F.col("_af"),
        F.col("_bf"),
        lambda x, y: F.when(x.isNotNull() & y.isNotNull(), (x - y) * (x - y)),
    )
    obs = F.filter(diffs, lambda v: v.isNotNull())
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("_aid") != F.col("_bid"))
        .select(
            "_aid",
            "_bid",
            "_bf",
            F.size(obs).alias("_nobs"),
            F.aggregate(obs, F.lit(0.0), lambda acc, v: acc + v).alias("_s"),
        )
        .filter(F.col("_nobs") >= 1)
        .withColumn("_msd", F.col("_s") / F.col("_nobs").cast("double"))
    )
    w = Window.partitionBy("_aid").orderBy(F.asc("_msd"), F.asc("_bid"))
    topk = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("_aid", "_rk", "_bf")
    )
    missing = (
        a.select("_aid", F.posexplode("_af").alias("_pos", "_val"))
        .filter(F.col("_val").isNull())
        .select("_aid", (F.col("_pos") + 1).cast("int").alias("t"))
    )
    dv = missing.join(topk, "_aid").select(
        "_aid",
        "t",
        "_rk",
        F.element_at(F.col("_bf"), F.col("t")).alias("_dv"),
    ).filter(F.col("_dv").isNotNull())
    g = dv.groupBy("_aid", "t").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_rk").alias("r"), F.col("_dv").alias("v")))
        ).alias("_nb")
    )
    filled = g.select(
        F.col("_aid"),
        F.col("t"),
        F.size("_nb").cast("bigint").alias("n_donors"),
        (
            F.aggregate(F.col("_nb"), F.lit(0.0), lambda acc, x: acc + x["v"])
            / F.size("_nb").cast("double")
        ).alias("imputed"),
    )
    # keep positions NO donor observed (all-k NULL there): left join back
    out = missing.join(filled, ["_aid", "t"], "left").select(
        F.col("_aid").alias(id_col),
        "t",
        F.coalesce(F.col("n_donors"), F.lit(0).cast("bigint")).alias("n_donors"),
        F.col("imputed"),
    )
    return out
