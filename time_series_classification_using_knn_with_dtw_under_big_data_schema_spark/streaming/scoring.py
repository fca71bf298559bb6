"""Structured Streaming scoring (engine extension — the reference has no
streaming surface at all, SURVEY.md §2.8; its Report frames "real-time" as
motivation only).

Pattern: a stream of series scored against a STATIC broadcast train set —
stream-static join, fully supported by Structured Streaming:

    stream.crossJoin(broadcast(train)) -> distance -> per-row best-k via
    aggregation-free windowless min_by... except window functions aren't
    allowed on streams, so the top-k/vote is re-expressed as a streaming
    groupBy over (test row), which IS allowed in update/complete modes — or,
    for the common k=1 case, a plain min_by aggregate.

The k>1 vote path uses collect_list + slice inside one aggregate (bounded:
<= |train| elements per test row, and the train side is broadcast-static).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.distance import (
    DISTANCES, _grouped_pairs_udf, batch_kernel, sq_euclidean, with_distance,
)
from ..operators.topk import check_k


def _metric_fn(metric: str, band: Optional[int], fastdtw_radius: int = 1):
    if metric == "euclidean":
        return None
    if metric in ("dtw", "fastdtw"):
        return _grouped_pairs_udf(batch_kernel(metric, band=band, radius=fastdtw_radius))
    if metric in DISTANCES:
        return DISTANCES[metric]
    raise ValueError(f"unknown metric {metric!r}; have {sorted(DISTANCES)} + 'fastdtw'")


def score_stream(
    stream: DataFrame,
    train: DataFrame,
    *,
    metric: str = "euclidean",
    k: int = 1,
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
) -> DataFrame:
    """Score a stream of series against a static train set.

    Returns a streaming DataFrame (test_id, predicted_label) suitable for
    ``writeStream`` in update/complete output mode (it contains a streaming
    aggregation keyed on the stream row id).
    """
    check_k(k)
    fn = _metric_fn(metric, band, fastdtw_radius)
    t = stream.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    r = train.select(
        F.col(id_col).alias("train_id"),
        F.col(features_col).alias("_rf"),
        F.col(label_col).alias("train_label"),
    )
    pairs = t.join(F.broadcast(r))  # stream-static cross join
    dist = sq_euclidean(F.col("_tf"), F.col("_rf")) if fn is None else fn(
        F.col("_tf"), F.col("_rf")
    )
    pairs = with_distance(pairs, dist, exclude_zero=True)

    if k == 1:
        agg = pairs.groupBy("test_id").agg(
            F.min_by(
                F.col("train_label"), F.struct("_d", "train_label", "train_id")
            ).alias("predicted_label")
        )
        return agg

    # k > 1: gather (distance, label) pairs per test row, sort, slice k, vote
    # with the Counter-compatible tie order — all inside one aggregate so the
    # plan stays a single streaming groupBy.
    gathered = pairs.groupBy("test_id").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_d", "train_label", "train_id"))),
            1,
            k,
        ).alias("_topk")
    )
    return gathered.select(
        "test_id", _vote_expr(F.col("_topk")).alias("predicted_label")
    )


def _vote_expr(topk: Column) -> Column:
    """Majority vote over a (dist, train_label, train_id)-sorted top-k array
    column: max votes, then min first-rank, then label asc — the
    Counter.most_common insertion-order semantics (operators/vote.py).
    (votes DESC, first-position ASC) is a total order here: distinct labels
    can't share a first position, so no further label tie-break is needed —
    max of (votes, size - first_position) structs picks the winner."""
    labels = F.transform(topk, lambda s: s["train_label"])
    distinct_labels = F.array_distinct(labels)
    scored = F.transform(
        distinct_labels,
        lambda lab: F.struct(
            F.size(F.filter(labels, lambda x: x == lab)).alias("votes"),
            (F.size(labels) - F.array_position(labels, lab)).alias("neg_first"),
            lab.alias("lab"),
        ),
    )
    return F.array_max(scored)["lab"]


def score_stream_stateless(
    stream: DataFrame,
    train: DataFrame,
    *,
    metric: str = "euclidean",
    k: int = 1,
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    exclude_zero: bool = True,
) -> DataFrame:
    """APPEND-MODE scoring: zero streaming state, so the output feeds the
    exactly-once file sink (sinks.py::stream_to_parquet) and a checkpointed
    restart never duplicates a committed micro-batch — the recoverable
    production shape for stream scoring (score_stream's groupBy form needs
    update/complete sinks).

    The train table is packed into ONE sorted array row (a groupBy().agg
    on the STATIC side only — computed once, broadcast), and each stream
    row evaluates its own top-k + vote as pure codegen expressions:
    sort_array over (dist, train_label, train_id) candidate structs, slice
    k, the same vote expression score_stream's k>1 path uses — predictions
    are identical to knn_classify / score_stream (test-pinned).

    Expression metrics only: the euclidean family / cosine AND the
    edit-distance family ('lcss'/'edr'/'erp'/'twed'/'msm' — their
    nested-fold DPs are pure Catalyst expressions, so they evaluate fine
    inside the candidate-transform lambda; all five are symmetric, so
    the (train, stream) argument order here scores identically to the
    batch operators — pinned in tests). Python UDFs can't run inside
    higher-order-function lambdas, so DTW scoring stays on score_stream.
    Train side must fit in a broadcast row, same bound as any broadcast
    join. Cost note: inside the lambda the edit DPs run interpreted per
    candidate (O(L^2) each) — right for alerting-volume streams, not
    for corpus-scale rescoring (that's batch knn_join strategy='kernel').
    """
    check_k(k)
    if metric in ("dtw", "fastdtw"):
        raise ValueError(
            "score_stream_stateless supports expression metrics only "
            "(euclidean family / cosine); use score_stream for DTW"
        )
    fn = _metric_fn(metric, None, 1)
    if fn is None:
        fn = sq_euclidean  # monotone rank stand-in, same order as euclidean
    t = stream.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    packed = train.groupBy().agg(
        F.collect_list(
            F.struct(
                F.col(features_col).alias("_rf"),
                F.col(label_col).alias("train_label"),
                F.col(id_col).alias("train_id"),
            )
        ).alias("_train")
    )
    j = t.join(F.broadcast(packed))  # stream-static; static side is 1 row
    cands = F.transform(
        F.col("_train"),
        lambda s: F.struct(
            fn(s["_rf"], F.col("_tf")).alias("_d"),
            s["train_label"].alias("train_label"),
            s["train_id"].alias("train_id"),
        ),
    )
    if exclude_zero:
        cands = F.filter(cands, lambda s: s["_d"] != 0)
    topk = F.slice(F.array_sort(cands), 1, k)
    return j.select("test_id", _vote_expr(topk).alias("predicted_label"))


def bm25_query_index(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
) -> DataFrame:
    """Build the STANDING-QUERY BM25 index for ``score_stream_bm25``: one
    row per query — (query_id, qterms array<struct<term, df>>, n_docs,
    total_tokens) — with document frequencies PRUNED to the query
    vocabulary. The full corpus df table is vocabulary-sized (possibly
    GBs at 100 TB); the slice a standing-query workload needs is
    (queries x terms-per-query) rows by construction, so the index always
    broadcasts. Terms absent from the training corpus keep df = 0 (a
    streamed document can still contain them; they score as maximally
    rare — the natural BM25 reading of an unseen term).

    Batch op (run once per index refresh); corpus cost = one (term)
    groupBy shuffle, semi-join-pruned to query terms before aggregation.
    """
    from ..functions.text import tokens
    from ..operators.skew import fan_out

    qt = (
        queries.select(
            F.col(qid_col).alias("query_id"),
            F.explode(tokens(F.col(qtext_col))).alias("term"),
        )
        .distinct()
    )
    t = fan_out(corpus).select(
        F.col(id_col).alias("_doc"), tokens(F.col(text_col)).alias("_toks")
    )
    # df only for terms some query mentions: broadcast-semi-join BEFORE the
    # groupBy so the shuffle carries query-vocabulary terms only
    doc_terms = t.select("_doc", F.explode("_toks").alias("term")).join(
        F.broadcast(qt.select("term").distinct()), "term", "left_semi"
    )
    df_tbl = doc_terms.groupBy("term").agg(
        F.countDistinct("_doc").alias("df")
    )
    stats = t.agg(
        F.countDistinct("_doc").alias("n_docs"),
        F.sum(F.size("_toks")).alias("total_tokens"),
    )
    return (
        qt.join(df_tbl, "term", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .groupBy("query_id")
        .agg(
            F.collect_list(F.struct("term", "df")).alias("qterms")
        )
        .crossJoin(F.broadcast(stats))
    )


def score_stream_bm25(
    stream: DataFrame,
    index: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPEND-MODE standing-query BM25: score every streamed document
    against every registered query (``bm25_query_index``) — the streaming
    inversion of retrieval (alerting / routing: queries are fixed, docs
    flow). Zero streaming state: the index broadcasts (query-vocabulary-
    sized by construction) and each document's score is ONE projection —
    tf per query term via a filter-count over the token array, the exact
    bm25_topk contribution tree, integer micro-unit fold. No shuffle, no
    watermark, exactly-once through the file sink.

    Scores match operators/corpus.py::bm25_topk bit-for-bit when the
    stream replays the index's own corpus (test-pinned). Output:
    (id_col, query_id, score) — only positive-scoring (doc, query) pairs,
    mirroring bm25_topk's inner-join semantics.
    """
    from ..functions.text import tokens

    toks = tokens(F.col(text_col))
    pairs = stream.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_dl")
    ).join(F.broadcast(index))  # stream-static cross join
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("_dl").cast("double") / avgdl)
    )

    def contrib(acc, s):
        tf = F.size(F.filter(F.col("_toks"), lambda x: x == s["term"]))
        idf = (
            (F.col("n_docs") - s["df"]).cast("double") + F.lit(0.5)
        ) / (s["df"].cast("double") + F.lit(0.5)) + F.lit(1.0)
        sat = (tf.cast("double") * (F.lit(k1) + F.lit(1.0))) / (
            tf.cast("double") + norm
        )
        c = F.round(idf * sat * F.lit(1_000_000.0), 0).cast("long")
        return acc + F.when(tf > 0, c).otherwise(F.lit(0).cast("long"))

    scored = pairs.withColumn(
        "_micro", F.aggregate("qterms", F.lit(0).cast("long"), contrib)
    )
    return scored.filter(F.col("_micro") > 0).select(
        id_col,
        "query_id",
        (F.col("_micro").cast("double") / F.lit(1_000_000.0)).alias("score"),
    )


def score_stream_quality(
    stream: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPEND-MODE learned quality filtering of a document stream: the
    weights trained by operators/classify.py::train_quality_perceptron
    applied to every streamed document — the standing-filter shape of
    q126 (ingest-time curation: score documents as they arrive, route by
    ``kept``). Zero streaming state: featurization
    (operators/classify.py::doc_quality_features — per-row token-count
    projections) and the exact int64 dot run as ONE projection per row;
    the dim-row model packs to a single array row on the STATIC side and
    broadcasts. No shuffle, no watermark, exactly-once through the file
    sink. Scores match score_with_weights bit-for-bit on the same rows
    (test-pinned).

    Output: (id_col, score bigint, kept boolean).
    """
    from ..operators.classify import (
        doc_quality_features,
        pack_weights,
        packed_score,
    )

    feats = doc_quality_features(stream, id_col=id_col, text_col=text_col)
    # same packing + same dot as score_with_weights, BY CONSTRUCTION —
    # the arithmetic is imported, not re-stated
    j = feats.join(F.broadcast(pack_weights(weights)))  # stream-static, 1 row
    score = packed_score(F.col("x"))
    return j.select(
        F.col(id_col), score.alias("score"), (score > 0).alias("kept")
    )
