"""Learned quality filtering: a distributed, integer-exact averaged
perceptron (engine extension; BASELINE.json north-star "training-data
pipeline" family).

The reference (Team11-Project.py) is a lazy KNN classifier — it never
*trains* parameters. Large-scale curation pipelines do: the CCNet /
fastText recipe labels documents with a cheap seed signal (wiki vs crawl
membership, a length heuristic, an existing filter's verdict) and distills
it into a linear text classifier that can then be applied to the other
99.9% of the corpus where the seed signal is unavailable. This module is
that recipe as a Spark-first operator, built so a DuckDB oracle can
hash-check the *trained weights* — the same trick operators/cluster.py
uses for Lloyd's k-means:

- features are INTEGER counts centered by FIXED spec constants (never
  data statistics), so every margin/gradient is an exact int64;
- the batch update sums ``y * x`` over misclassified rows — an
  order-free integer partial aggregate, bit-identical under any
  partitioning;
- the *averaged* perceptron (Freund & Schapire 1999) sums the per-epoch
  weight vectors — again integers — which kills the oscillation plain
  batch perceptron shows on non-separable data (measured on the sf0.01
  corpus: plain 0.53 accuracy, averaged 0.99 at 4 epochs).

Scale shape (the whole point): one pass over the corpus per epoch —
weights ride into every executor as LITERALS (codegen'd fold, no join,
no broadcast variable), the gradient is a (dim)-keyed partial aggregate
whose reduce side is ``dim`` rows, and the only driver traffic is those
``dim`` rows per epoch (same bounded-collect contract as bpe.py's 1-row
argmax; plans/audit.py sees epochs x dim rows). Nothing corpus-sized ever
leaves the executors, nothing is cached — at 100 TB this is ``epochs``
column-pruned parquet scans, embarrassingly parallel.

Overflow envelope (int64): |weight| grows by at most n_docs * max|x| per
epoch; margins are bounded by dim * max|x| * |weight|. With |x| <= 2^12
and 4 epochs, margins stay under 2^63 up to ~10^12 documents — beyond
100 TB of text. Spark runs ANSI-off here, so the guard is the documented
envelope, not a runtime trap; keep features centered counts (small) and
epochs in single digits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, tokens
from ..plans.eager import agg_row

__all__ = [
    "doc_quality_features",
    "train_quality_perceptron",
    "score_with_weights",
    "conformal_knn",
    "conformal_set",
]

# Fixed featurization spec: centering constants are part of the FEATURE
# DEFINITION (roughly the corpus-typical magnitudes), not data statistics
# — so featurization stays a stateless per-row projection and the oracle
# can restate it as literals. Bias stays uncentered at 1.
QUALITY_FEATURE_CENTERS = (0, 53, 8, 30, 20)
QUALITY_FEATURE_DIM = len(QUALITY_FEATURE_CENTERS)
LONG_TOKEN_LEN = 5


def doc_quality_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Integer feature vector per document: (id_col, x array<bigint>) with

        x = [1,
             n_tokens          - 53,
             n_stopword_tokens -  8,
             n_distinct_tokens - 30,
             n_long_tokens     - 20]   (long = len >= 5)

    Pure Catalyst expressions over the portable whitespace tokenization
    (functions/text.py::tokens) — no UDF, no shuffle, scan-bound.
    """
    toks = tokens(F.col(text_col))
    c = QUALITY_FEATURE_CENTERS
    x = F.array(
        F.lit(1).cast("long"),
        (F.size(toks) - F.lit(c[1])).cast("long"),
        (
            F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))) - F.lit(c[2])
        ).cast("long"),
        (F.size(F.array_distinct(toks)) - F.lit(c[3])).cast("long"),
        (
            F.size(F.filter(toks, lambda t: F.length(t) >= LONG_TOKEN_LEN))
            - F.lit(c[4])
        ).cast("long"),
    )
    return df.select(F.col(id_col), x.alias("x"))


def _guarded_label(y, x, dim: int):
    """Data-plane validation fused into the training scan: ragged feature
    arrays and labels outside {-1, +1} raise loudly. NULL handling is
    explicit — ``~y.isin(-1, 1)`` is NULL (not true) for a NULL label, so
    a join-miss label would otherwise be silently FILTERED out of every
    epoch instead of raising."""
    return (
        F.when(
            F.size(x) != dim,
            F.raise_error(
                F.concat(
                    F.lit(f"ragged feature arrays: expected size {dim}, got "),
                    F.size(x).cast("string"),
                )
            ),
        )
        .when(
            y.isNull() | ~y.isin(-1, 1),
            F.raise_error(
                F.concat(
                    F.lit("perceptron label must be -1 or +1, got "),
                    F.coalesce(y.cast("string"), F.lit("NULL")),
                )
            ),
        )
        .otherwise(y)
    )


def _margin(x_col, weights: list[int]):
    """Exact int64 margin sum_j x[j] * w[j] with the weights embedded as
    literals — whole-stage-codegen'd, no join against a weight table."""
    wlit = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    return F.aggregate(
        F.zip_with(x_col, wlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def train_quality_perceptron(
    df: DataFrame,
    *,
    epochs: int = 4,
    id_col: str = "doc_id",
    features_col: str = "x",
    label_col: str = "y",
    averaged: bool = True,
) -> DataFrame:
    """Distributed batch (averaged) perceptron over integer features.

    Input rows: (features_col array<bigint>, label_col int in {-1, +1}).
    Per epoch t:   margin_i = x_i . w_t            (int64, exact)
                   w_{t+1}  = w_t + sum_{i: y_i * margin_i <= 0} y_i x_i
    Averaged output (default): sum_t w_t — the Freund-Schapire averaged
    perceptron restricted to integer arithmetic, so it is ENGINE-EXACT:
    any oracle replaying the same epochs reproduces the weights bit-
    for-bit regardless of row order or partitioning.

    Output: (dim int, weight bigint) — ``dim`` rows, the model.

    Plan shape per epoch: one column-pruned corpus scan -> codegen'd
    margin filter (weights are literals) -> posexplode -> dim-keyed
    partial-agg sum -> ``dim`` rows collected (the bpe.py bounded-collect
    contract). Labels outside {-1, +1} raise at the first epoch via a
    data-plane guard.
    """
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    y = F.col(label_col)
    x = F.col(features_col)
    # dim probe: ONE row (LIMIT-1 scan, not a corpus aggregate — at 100 TB
    # a full min/max pass just for validation would double the epoch cost);
    # ragged arrays and bad labels are data-plane guards that fire inside
    # the first epoch's scan instead
    probe = df.select(F.size(x).alias("_n")).first()
    if probe is None:
        raise ValueError("training set is empty")
    dim = probe["_n"]
    guard = _guarded_label(y, x, dim)

    w = [0] * dim
    acc = [0] * dim
    for t in range(epochs):
        mis = df.select(guard.alias("_y"), x.alias("_x")).filter(
            F.col("_y").cast("long") * _margin(F.col("_x"), w) <= 0
        )
        grad_rows = (
            mis.select(F.col("_y"), F.posexplode("_x").alias("_dim", "_v"))
            .groupBy("_dim")
            .agg(F.sum(F.col("_y").cast("long") * F.col("_v")).alias("_g"))
            .collect()  # bounded: <= dim rows (audit-pinned)
        )
        g = {r["_dim"]: r["_g"] for r in grad_rows}
        w = [w[j] + g.get(j, 0) for j in range(dim)]
        acc = [acc[j] + w[j] for j in range(dim)]
    final = acc if averaged else w
    spark = df.sparkSession
    return spark.createDataFrame(
        [(j, int(final[j])) for j in range(dim)], "dim int, weight bigint"
    )


def perceptron_epoch_sweep(
    df: DataFrame,
    *,
    epochs: int = 4,
    features_col: str = "x",
    label_col: str = "y",
) -> DataFrame:
    """Training-curve sweep: the epochs analog of the reference's k-sweep
    (Team11-Project.py:237-476 sweeps KNN's k and reports accuracy per
    value; this sweeps the perceptron's one capacity knob and reports
    train accuracy of the AVERAGED model after each epoch — the model
    you would actually deploy at that stopping point).

    Output: (epoch int, n_correct bigint, n_total bigint, accuracy
    double) for epoch = 1..epochs. ``correct`` means the deployed
    decision matches the label: score > 0 for y = +1, score <= 0 for
    y = -1 (score == 0 predicts 'drop', the same contract as
    score_with_weights' ``kept``). Counts are exact integers, so the
    whole sweep is oracle-replayable; accuracy is the one double
    division. Per epoch: the training gradient pass + one count — both
    corpus scans, both order-free."""
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    y = F.col(label_col)
    x = F.col(features_col)
    probe = df.select(F.size(x).alias("_n")).first()
    if probe is None:
        raise ValueError("training set is empty")
    dim = probe["_n"]
    # every pass (gradient AND count) reads through the guard — a bad or
    # NULL label raises in whichever scan hits it first
    df = df.select(
        _guarded_label(y, x, dim).alias(label_col), x.alias(features_col)
    )
    n_total = df.count()
    w = [0] * dim
    acc = [0] * dim
    rows = []
    for t in range(1, epochs + 1):
        mis = df.select(y.alias("_y"), x.alias("_x")).filter(
            F.col("_y").cast("long") * _margin(F.col("_x"), w) <= 0
        )
        grad_rows = (
            mis.select(F.col("_y"), F.posexplode("_x").alias("_dim", "_v"))
            .groupBy("_dim")
            .agg(F.sum(F.col("_y").cast("long") * F.col("_v")).alias("_g"))
            .collect()  # bounded: <= dim rows
        )
        g = {r["_dim"]: r["_g"] for r in grad_rows}
        w = [w[j] + g.get(j, 0) for j in range(dim)]
        acc = [acc[j] + w[j] for j in range(dim)]
        score = _margin(x, acc)
        n_correct = df.filter(
            ((y > 0) & (score > 0)) | ((y < 0) & (score <= 0))
        ).count()
        rows.append((t, int(n_correct), int(n_total)))
    spark = df.sparkSession
    out = spark.createDataFrame(
        rows, "epoch int, n_correct bigint, n_total bigint"
    )
    return out.select(
        "epoch",
        "n_correct",
        "n_total",
        (
            F.col("n_correct").cast("double") / F.col("n_total").cast("double")
        ).alias("accuracy"),
    )


def train_stump(
    df: DataFrame,
    *,
    features_col: str = "x",
    label_col: str = "y",
) -> DataFrame:
    """Exact decision-stump induction — threshold-RULE learning for
    filters ("which n_tokens cutoff best agrees with the seed label?"),
    the interpretable sibling of the perceptron. Unlike the perceptron
    this is FULLY declarative: no epochs, no driver loop, no collect —
    one plan Catalyst owns end to end.

    Searches every (feature dim, threshold, polarity) rule of the form

        predict +1 if x[dim] <= threshold else -1      (polarity +1)
        predict -1 if x[dim] <= threshold else +1      (polarity -1)

    over all OBSERVED feature values as thresholds, and returns the
    single rule with the fewest training errors (exact integer counts;
    total-order tie-break n_errors asc, dim asc, threshold asc, polarity
    desc). The constant rules are included for free: at threshold =
    max(x[dim]) polarity +1 predicts all +1, polarity -1 all -1.

    Plan shape: posexplode to (dim, value, y) -> ONE groupBy (dim,
    value) shuffle of per-value label counts -> ONE dim-partitioned
    running-sum window over the (dims x distinct values) table (NOT the
    corpus — the window input is pre-aggregated) -> global top-1
    (TakeOrderedAndProject, map-side partial). At 100 TB the only
    corpus-sized stage is the explode feeding the partial aggregation.

    Output: 1 row — (dim int, threshold bigint, polarity int,
    n_errors bigint, n_total bigint).
    """
    from pyspark.sql import Window

    y = F.col(label_col)
    x = F.col(features_col)
    ex = df.select(
        F.when(
            y.isNull() | ~y.isin(-1, 1),
            F.raise_error(
                F.concat(
                    F.lit("stump label must be -1 or +1, got "),
                    F.coalesce(y.cast("string"), F.lit("NULL")),
                )
            ),
        )
        .otherwise(y)
        .alias("_y"),
        F.posexplode(x).alias("_dim", "_v"),
    )
    per_value = ex.groupBy("_dim", "_v").agg(
        F.sum(F.when(F.col("_y") > 0, 1).otherwise(0)).alias("_pos"),
        F.sum(F.when(F.col("_y") < 0, 1).otherwise(0)).alias("_neg"),
    )
    w = Window.partitionBy("_dim").orderBy("_v")
    tot = Window.partitionBy("_dim")
    cum = per_value.select(
        "_dim",
        "_v",
        F.sum("_pos").over(w).alias("_cpos"),
        F.sum("_neg").over(w).alias("_cneg"),
        F.sum("_pos").over(tot).alias("_P"),
        F.sum("_neg").over(tot).alias("_N"),
    )
    # polarity +1: errors = negatives at/below threshold + positives above
    # polarity -1: the mirror
    cand = cum.select(
        "_dim",
        "_v",
        (F.col("_cneg") + F.col("_P") - F.col("_cpos")).alias("_err_pos"),
        (F.col("_cpos") + F.col("_N") - F.col("_cneg")).alias("_err_neg"),
        (F.col("_P") + F.col("_N")).alias("_total"),
    )
    rules = cand.select(
        "_dim", "_v", F.lit(1).alias("_pol"), F.col("_err_pos").alias("_err"), "_total"
    ).unionByName(
        cand.select(
            "_dim", "_v", F.lit(-1).alias("_pol"), F.col("_err_neg").alias("_err"), "_total"
        )
    )
    best = rules.orderBy(
        F.asc("_err"), F.asc("_dim"), F.asc("_v"), F.desc("_pol")
    ).limit(1)
    return best.select(
        F.col("_dim").cast("int").alias("dim"),
        F.col("_v").cast("bigint").alias("threshold"),
        F.col("_pol").cast("int").alias("polarity"),
        F.col("_err").cast("bigint").alias("n_errors"),
        F.col("_total").cast("bigint").alias("n_total"),
    )


def score_stump(
    df: DataFrame,
    stump: DataFrame,
    *,
    id_col: str = "doc_id",
    features_col: str = "x",
) -> DataFrame:
    """Apply a trained stump rule: (id_col, predicted int, kept boolean)
    with predicted = polarity if x[dim] <= threshold else -polarity and
    kept = predicted > 0. The 1-row rule broadcasts into the corpus scan
    — zero corpus shuffles, the same serve contract as
    score_with_weights."""
    j = df.select(F.col(id_col), F.col(features_col).alias("_x")).crossJoin(
        F.broadcast(stump)
    )
    pred = F.when(
        F.element_at(F.col("_x"), F.col("dim") + 1) <= F.col("threshold"),
        F.col("polarity"),
    ).otherwise(-F.col("polarity"))
    return j.select(
        F.col(id_col),
        pred.alias("predicted"),
        (pred > 0).alias("kept"),
    )


def pack_weights(weights: DataFrame) -> DataFrame:
    """(dim, weight) -> ONE row with the weight array sorted by dim — the
    broadcastable serve-side form. Shared by score_with_weights and the
    streaming twin (streaming/scoring.py::score_stream_quality) so the
    packing order can never diverge between batch and stream."""
    return weights.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "weight"))),
            lambda s: s["weight"],
        ).alias("_w")
    )


def packed_score(x_col) -> "F.Column":
    """Exact int64 dot of a feature array against the packed ``_w`` array
    (pack_weights) — the single definition of model application; batch
    and streaming both read it."""
    return F.aggregate(
        F.zip_with(x_col, F.col("_w"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def score_with_weights(
    df: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    features_col: str = "x",
) -> DataFrame:
    """Apply a trained linear model: (id_col, score bigint, kept boolean)
    with score = x . w (exact int64) and kept = score > 0.

    Fully declarative — the ``dim``-row weight table aggregates to ONE
    array row (pack_weights) and broadcast-cross-joins into the corpus
    scan; the dot product is the same codegen'd fold as training. No
    collect, no corpus shuffle: the filter runs wherever the corpus
    lives, which is the serve-side contract a 100 TB filter needs.
    """
    score = packed_score(F.col(features_col))
    return (
        df.crossJoin(F.broadcast(pack_weights(weights)))
        .select(
            F.col(id_col),
            score.alias("score"),
            (score > 0).alias("kept"),
        )
    )


# metrics the conformal kernel path can score with PROVEN bit-identity to
# the declarative plan: the shared core's point folds accumulate in index
# order (the exact IEEE op sequence of the SQL left fold), dtw shares the
# declarative path's own batch kernel, and the edit family's batch DPs
# are pinned bitwise against the Catalyst fold expressions
# (test_expressions_match_kernels_bitwise). chebyshev/cosine/sbd and
# callable metrics stay declarative (chebyshev's array_max null-skipping
# gives ragged pairs different semantics than the null-propagating folds;
# sbd_batch is an FFT — not bit-equal to the HOF definition).
_CONFORMAL_POINT_KINDS = frozenset({"euclidean", "sq_euclidean", "manhattan"})
_CONFORMAL_ELASTIC_KINDS = frozenset({"dtw", "lcss", "edr", "erp", "twed", "msm"})


def _conformal_min_kernel(
    proper: DataFrame,
    kind: str,
    max_broadcast_bytes: int,
    min_kernel_pairs: int,
    cal_mod: int,
):
    """Kernel twin of conformal_knn's ``_mins`` (r9 optimization round):
    min distance per (side row, proper label) through the pair-scan
    router (operators/pairscan.py) — a broadcast scan of the side against
    the proper split, or the block grid when the proper split is over
    budget — instead of a crossJoin whose per-pair distance is an
    interpreted higher-order-function fold (Spark never codegens HOFs —
    measured 55.6 s for the ~3e9-pair 10x conformal soak, the largest
    entry in the whole bench).

    Returns a ``mins(side, fcol, keys) -> DataFrame`` closure, or None when
    no kernel path applies (empty proper side, a ragged proper side under
    a point metric, or a calibration pair volume below
    ``min_kernel_pairs``). Both sides scan on one route, so the proper
    split is collected and broadcast once. Min-per-label is a per-cell
    aggregate exactly like top-k: when the grid splits the proper side, a
    global groupBy(keys, label).MIN reduces the cells exactly (MIN is
    associative; a cell whose surviving pairs are all NaN emits NaN ->
    Arrow NULL, which the global MIN ignores unless every cell did — then
    the router restores NaN; a (row, label) with no surviving pair in
    any cell emits no row).

    Every route scores through the package's one numpy scoring core,
    ``knn._score_block_rows`` with ``by_label`` (``first_k`` with k = 1
    over a (row, label) key, every pair scored), so the output is
    bit-identical to the declarative ``_mins`` by construction:

    - point folds accumulate dim-by-dim ascending (IEEE sequence of the
      left fold); elastic metrics ride the bitwise-pinned batch kernels;
    - the ``d != 0`` pair exclusion keeps NaN distances (NaN != 0 is true
      in both engines) and MIN is NaN-greatest (Spark aggregate NaN
      semantics, ``first_k``'s NaN-last order): non-NaN min when one
      exists, NaN when only NaN pairs survive, NO row when no pair
      survives; null labels form one group, as in the ``groupBy``;
    - point-metric side rows whose length differs from the proper length
      emit nothing — exactly the declarative null-fold -> null-filter drop
      (zip_with pads the short side with nulls, the fold goes null, and
      ``null != 0`` filters the pair);
    - the result is cached (register_cache + eager count, the
      knn_join_lb phase-table pattern) so the kernel runs ONCE, at
      population, and the conformal pipeline scans the bounded
      (rows x labels) table.
    """
    import numpy as np

    from ..caching import register_cache
    from ..functions.distance import batch_kernel
    from . import pairscan
    from .knn import _group_by_length, _score_block_rows

    r = pairscan.route("kernel", (proper, proper.columns), budget=max_broadcast_bytes)
    if r.name == "empty" or (kind in _CONFORMAL_POINT_KINDS and r.c_ragged):
        return None
    # pair-volume gate (routing only — both branches are exact): the kernel
    # path pays a handful of fixed driver jobs (proper collect, two cache
    # populations), which at toy pair volumes costs more than the
    # interpreted fold it replaces (measured ~1 us/pair-fold declarative vs
    # a ~2-4 s kernel floor -> breakeven ~2M calibration pairs). The
    # calibration count is ESTIMATED from the proper count and the split
    # ratio (n_cal ~ n_proper / (cal_mod - 1)) so routing adds no job.
    if r.name == "kernel" and r.c_rows * r.c_rows // max(1, cal_mod - 1) < min_kernel_pairs:
        return None
    label_sql_type = proper.schema["_plab"].dataType.simpleString()
    elastic = batch_kernel(kind) if kind in _CONFORMAL_ELASTIC_KINDS else None

    def mins(side: DataFrame, fcol: str, keys: list) -> DataFrame:
        key_types = dict(side.dtypes)

        def score(pdf, groups):
            out = _score_block_rows(
                np.arange(len(pdf)), pdf[fcol].to_numpy(), groups, kind=kind,
                elastic=elastic, k=1, excl=True, by_label=True,
            )
            # test_id holds each emitted row's position in the batch
            found = pdf[keys].iloc[out["test_id"]].reset_index(drop=True)
            return found.assign(_plab=out["train_label"], _dmin=out["distance"])

        scored = pairscan.scan(
            r, (side, [*keys, fcol]), (proper, proper.columns),
            kind=kind, cost=dict(exhaustive=True), pack=_group_by_length, score=score,
            reduce=lambda cells: cells.groupBy(*keys, "_plab").agg(
                F.min("_dmin").alias("_dmin")
            ),
            schema=", ".join(
                [f"{k} {key_types[k]}" for k in keys]
                + [f"_plab {label_sql_type}", "_dmin double"]
            ),
            dist="_dmin", budget=max_broadcast_bytes,
        )
        out = register_cache(scored.cache())
        # land the bounded (rows x labels) table before the main job: lazy
        # caches re-run the kernel per consuming branch (the knn_join_lb
        # phase-table lesson); an observed scan, so the landing is one
        # job with no exchange, as the route's other eager executions
        agg_row(out, n=F.count(F.lit(1)))
        return out

    return mins


def conformal_knn(
    test: DataFrame,
    train: DataFrame,
    *,
    metric="euclidean",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    cal_mod: int = 3,
    cal_rem: int = 1,
    max_broadcast_bytes: int = 512 << 20,
    min_kernel_pairs: int = 1_000_000,
) -> DataFrame:
    """Split-conformal KNN classification (r6; Vovk et al., *Algorithmic
    Learning in a Random World* — the inductive/split variant): per test
    point and CANDIDATE label y, a p-value with a finite-sample validity
    guarantee (P(p_true <= eps) <= eps under exchangeability):

        train -> proper / calibration split (id % cal_mod == cal_rem)
        alpha(x, y) = min d(x, proper with label y)
                      / min d(x, proper with label != y)      (1-NN ratio)
        alpha_i     = same score for each calibration point at its TRUE label
        p(x, y)     = (#{alpha_i >= alpha(x, y)} + 1) / (n_cal + 1)

    Everything is joins + MIN aggregates + INTEGER rank counts + one
    division — no float accumulation anywhere, so p-values are exact
    rationals and hash cross-engine bit-for-bit. d is euclidean with the
    engine's d != 0 exclusion (P7); calibration points whose label is
    absent from the proper split drop out (no same-label distance exists).

    Output: (test_id, label, alpha, p_value) — one row per test x
    candidate label (candidates = the proper split's label set). Predict
    by max p; the runner-up p is the classic confidence complement.

    Scale: two cross joins against the BROADCAST proper split (the KNN
    pair volume, pre-aggregated by MIN before anything wide), each
    evaluated once, and one broadcast row holding the calibration scores
    and their count. Nothing corpus x corpus beyond the KNN itself.

    ``metric`` (r7): any named DISTANCES entry or a Column callable —
    euclidean (default, q169) or an elastic metric ('twed' etc., q192:
    phase-shifted conformity scoring). Edit-family metrics keep the
    exact-rational p-value contract (order-independent per-cell DPs, one
    MIN, one division); the alpha ratio itself is exact for ANY metric
    whose distance is engine-reproducible.
    """
    from ..functions.distance import DISTANCES, with_distance
    from .pairscan import check_budgets

    check_budgets(max_broadcast_bytes=max_broadcast_bytes)
    dist_fn = DISTANCES[metric] if isinstance(metric, str) else metric

    pid = F.col(id_col)
    proper = train.filter(F.pmod(pid, F.lit(cal_mod)) != cal_rem).select(
        pid.alias("_pid"), F.col(features_col).alias("_pf"), F.col(label_col).alias("_plab")
    )
    cal = train.filter(F.pmod(pid, F.lit(cal_mod)) == cal_rem).select(
        pid.alias("_cid"), F.col(features_col).alias("_cf"), F.col(label_col).alias("_clab")
    )

    # r9 optimization: route the min-per-label scoring through the guarded
    # kernel twin when the metric has a bit-identical batch kernel and the
    # proper split fits the broadcast budget; the declarative crossJoin +
    # interpreted HOF fold stays as the exact fallback (and the only path
    # for callable metrics, chebyshev/cosine/sbd, multichannel series, or
    # an over-budget proper split)
    kernel_mins = None
    if isinstance(metric, str) and metric in _CONFORMAL_POINT_KINDS | _CONFORMAL_ELASTIC_KINDS:
        from pyspark.sql.types import ArrayType

        if not isinstance(train.schema[features_col].dataType.elementType, ArrayType):
            kernel_mins = _conformal_min_kernel(
                proper, metric, max_broadcast_bytes, min_kernel_pairs, cal_mod
            )

    def _mins(side: DataFrame, fcol: str, keys: list[str]) -> DataFrame:
        if kernel_mins is not None:
            return kernel_mins(side, fcol, keys)
        pairs = side.crossJoin(F.broadcast(proper))
        pairs = with_distance(pairs, dist_fn(F.col(fcol), F.col("_pf")), exclude_zero=True)
        return pairs.groupBy(*keys, "_plab").agg(F.min("_d").alias("_dmin"))

    # Each _mins table feeds ONE pipeline, so every pair is scored once:
    # a filter on a _mins table would be pushed into its join (the label
    # halves of one fold), and a second consumer would re-run it.
    # calibration scores at the TRUE label: the different-label minimum is
    # a window over the calibration row
    cmin = _mins(cal, "_cf", ["_cid", "_clab"])
    diff = F.when(F.col("_plab") != F.col("_clab"), F.col("_dmin"))
    alphas = (
        cmin.select(
            "_plab", "_clab", "_dmin",
            F.min(diff).over(Window.partitionBy("_cid")).alias("_dd"),
        )
        .filter((F.col("_plab") == F.col("_clab")) & F.col("_dd").isNotNull())
        .select((F.col("_dmin") / F.col("_dd")).alias("_ai"))
    )
    # every calibration score and their count in one row (an aggregate
    # over an empty table still yields it: p = 1/(0+1) = 1, not zero rows)
    cal_row = alphas.agg(
        F.collect_list("_ai").alias("_ais"), F.count(F.lit(1)).alias("_ncal")
    )

    # test scores per candidate label: the other labels' minimum is the
    # least of the windows before and after the row's label
    tmin = _mins(
        test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf")),
        "_tf",
        ["test_id"],
    )
    by_label = Window.partitionBy("test_id").orderBy("_plab")
    others = F.least(
        F.min("_dmin").over(by_label.rowsBetween(Window.unboundedPreceding, -1)),
        F.min("_dmin").over(by_label.rowsBetween(1, Window.unboundedFollowing)),
    )
    axy = (
        tmin.filter(F.col("_plab").isNotNull())
        .select("test_id", "_plab", "_dmin", others.alias("_dd"))
        .filter(F.col("_dd").isNotNull())
        .select(
            "test_id", F.col("_plab").alias("label"),
            (F.col("_dmin") / F.col("_dd")).alias("alpha"),
        )
    )
    ge = F.aggregate(
        "_ais", F.lit(0).cast("long"),
        lambda n, a: n + F.when(a >= F.col("alpha"), 1).otherwise(0),
    )
    # _ge comes out of a generator so a filter on p_value (conformal_set)
    # is not pushed into the join with the count inlined — the
    # single-evaluation rule of functions/distance.py::with_distance
    counted = axy.crossJoin(F.broadcast(cal_row)).select(
        "test_id", "label", "alpha", "_ncal", F.explode(F.array(ge)).alias("_ge")
    )
    return counted.select(
        "test_id",
        "label",
        "alpha",
        (
            (F.col("_ge") + 1).cast("double")
            / (F.col("_ncal") + 1).cast("double")
        ).alias("p_value"),
    )


def conformal_set(
    test: DataFrame,
    train: DataFrame,
    *,
    eps: float = 0.1,
    metric="euclidean",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    cal_mod: int = 3,
    cal_rem: int = 1,
    max_broadcast_bytes: int = 512 << 20,
    min_kernel_pairs: int = 1_000_000,
) -> DataFrame:
    """Conformal PREDICTION SET at miscoverage level ``eps`` (r7): the
    labels whose conformal p-value exceeds eps,

        C_eps(x) = { y : p(x, y) > eps },

    with the split-conformal finite-sample guarantee
    P(y_true in C_eps(x)) >= 1 - eps under exchangeability (Vovk et al.)
    — the calibrated-uncertainty API a point prediction can't give: an
    ambiguous series gets a LARGER set, not a silently wrong label. The
    empirical coverage property is fuzz-swept (tools/fuzz_sweep.py
    conformal mode); the p-values are ``conformal_knn``'s exact
    rationals, so membership p > eps is an exact comparison, never a
    float-boundary coin flip (eps itself is the caller's literal).

    Output: one row per RETAINED (test_id, label) — (test_id, label,
    alpha, p_value); a test point with an empty set emits no rows (the
    honest "calibration says nothing conforms" answer). Scale: a filter
    over conformal_knn — nothing new moves.
    """
    p = conformal_knn(
        test,
        train,
        metric=metric,
        id_col=id_col,
        features_col=features_col,
        label_col=label_col,
        cal_mod=cal_mod,
        cal_rem=cal_rem,
        max_broadcast_bytes=max_broadcast_bytes,
        min_kernel_pairs=min_kernel_pairs,
    )
    return p.filter(F.col("p_value") > F.lit(float(eps)))
