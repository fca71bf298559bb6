"""Plan-hygiene assertions: the scale contract is checkable.

Each test pins a property the 100 TB design depends on: pushdown reaches the
scan, hinted joins go broadcast, top-k gets map-side partial pruning, the
euclidean path never leaves the JVM, the DTW path crosses to Python exactly
once."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    conformal_knn,
    knn_cross_validate,
    knn_join,
    knn_join_lb,
    knn_join_pruned,
    knn_predict_1nn,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    has_window_group_limit,
    pushed_filters,
    python_eval_nodes,
    read_schema_columns,
)

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushdown(spark):
    q = entry_mod._q02_filter_project(spark, SF)
    pf = pushed_filters(q)
    assert any("l_returnflag" in f for f in pf), pf
    assert any("l_quantity" in f for f in pf), pf
    cols = read_schema_columns(q)
    # column pruning: only the 4 needed columns reach the scan
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"}


def test_join_goes_broadcast(spark):
    q = entry_mod._q03_join_enrich(spark, SF)
    assert has_broadcast_join(q)


def test_knn_topk_has_partial_window_group_limit(spark, har_dfs):
    train_df, test_df = har_dfs
    nn = knn_join(test_df, train_df, metric="euclidean", k=5)
    assert has_window_group_limit(nn, "Partial")
    assert has_window_group_limit(nn, "Final")


def test_euclidean_knn_is_pure_jvm(spark, har_dfs):
    train_df, test_df = har_dfs
    nn = knn_join(test_df, train_df, metric="euclidean", k=5)
    assert python_eval_nodes(nn) == 0


def test_dtw_knn_crosses_python_exactly_once(spark, har_dfs):
    train_df, test_df = har_dfs
    nn = knn_join(test_df, train_df, metric="fastdtw", k=5)
    assert python_eval_nodes(nn) == 1


def test_broadcast_knn_has_single_shuffle(spark, har_dfs):
    """broadcast strategy: the only exchange is the window's hash(test_id)
    (plus AQE bookkeeping) — the pair generation itself is shuffle-free."""
    train_df, test_df = har_dfs
    nn = knn_join(test_df, train_df, metric="euclidean", k=5, strategy="broadcast")
    # one data exchange for the window; broadcast exchange is not 'Exchange '
    assert count_exchanges(nn) <= 2


def test_parse_path_has_no_python(spark):
    q = entry_mod._q07_parse_series(spark, SF)
    assert python_eval_nodes(q) == 0


def test_multiway_join_broadcasts_dims_and_pushes_filters(spark):
    q = entry_mod._q63_multiway_join(spark, SF)
    assert has_broadcast_join(q)
    # region filter + date range reach the parquet scans
    pf = pushed_filters(q)
    assert any("r_name" in f for f in pf)
    assert any("o_orderdate" in f for f in pf)


def test_chunk_documents_plan_is_shuffle_free(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import chunk_documents

    docs = spark.range(64).selectExpr("id AS doc_id", "repeat('w ', 40) AS text")
    # already well-partitioned input: fan_out is a no-op, plan has no exchange
    assert count_exchanges(chunk_documents(docs)) == 0


# ---------------------------------------------------------------------------
# Driver-bottleneck audit: every operator collect is bounded (VERDICT r2 #5)
# ---------------------------------------------------------------------------


def test_known_collect_sites_are_bounded(spark):
    """The operators that legitimately materialize driver-side state
    (kernel KNN broadcast matrix, kernel ANN matrix, the quantized-ANN int8
    matrix, dedup_components' small-graph union-find, bloom_semi_join's
    sketch bitmap) must keep every collect sketch-sized. Instrumented
    end-to-end; a future operator adding an unguarded collect to these
    paths fails here."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        ann_brute_topk,
        ann_quantized_topk,
        dedup_components,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sketch import (
        bloom_semi_join,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        assert_no_unbounded_collect,
    )

    rng = np.random.default_rng(5)
    series = [
        (i, [float(x) for x in rng.normal(size=8)], float(i % 3)) for i in range(40)
    ]
    sdf = spark.createDataFrame(series, "series_id long, features array<double>, label double")
    vecs = [(i, [float(x) for x in rng.normal(size=8)], 0) for i in range(40)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_a long, id_b long")
    fact = spark.createDataFrame([(i, i % 7) for i in range(100)], "row_id long, k long")
    dim = spark.createDataFrame([(1,), (3,)], "k long")

    # 64 KiB: far above any sketch-sized materialization, far below data size
    audit = assert_no_unbounded_collect(
        lambda: (
            knn_join(sdf.limit(10), sdf, k=3, strategy="kernel").count(),
            ann_brute_topk(vdf.limit(5), vdf, k=3, strategy="kernel").count(),
            ann_quantized_topk(vdf.limit(5), vdf, k=3, strategy="kernel").count(),
            dedup_components(docs, pairs).count(),
            bloom_semi_join(fact, dim, "k", m_bits=1024).count(),
        ),
        max_bytes=64 << 10,
    )
    # the audit actually saw the known driver materializations: the
    # pair-scan router's collect of each family's 40-row candidate side
    # (KNN, ANN brute, ANN quantized)
    sites = {r.site.split(":")[0] for r in audit.records}
    assert {"pairscan.py", "dedup.py", "sketch.py"} <= sites, sites
    candidates = [r for r in audit.records if r.site.startswith("pairscan.py") and r.rows == 40]
    assert len(candidates) == 3, audit.records


def test_collect_audit_catches_unbounded(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        assert_no_unbounded_collect,
    )
    import pytest as _pytest

    big = spark.range(50_000).selectExpr("id", "repeat('x', 64) AS s")
    with _pytest.raises(AssertionError, match="unbounded driver collect"):
        assert_no_unbounded_collect(lambda: big.collect(), max_bytes=64 << 10)


def test_new_text_ops_stay_jvm_side(spark):
    """q101/q104/q106/q107 are pure-Catalyst plans: zero Python nodes, no
    cartesian product anywhere (every join is keyed), and the q104 shuffle
    key is the long hash, never window text."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_plan,
    )

    for q in (
        "_q101_ngram_lm",
        "_q104_duplicate_spans",
        "_q106_set_similarity_join",
        "_q107_hll_distinct",
    ):
        df = getattr(entry_mod, q)(spark, SF)
        assert python_eval_nodes(df) == 0, q
        assert "CartesianProduct" not in executed_plan(df), q


def test_hll_register_agg_is_map_side_partial(spark):
    """The HLL registers groupBy compiles to partial_max before the
    exchange — the mergeability property in the physical plan."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        hll_registers,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_plan,
    )

    df = spark.range(1, 10_000).selectExpr("id AS k")
    plan = executed_plan(hll_registers(df, "k"))
    assert "partial_max" in plan or "partial max" in plan.lower()
    # one exchange: the 256-bucket final merge
    assert count_exchanges(hll_registers(df, "k")) == 1


def test_bpe_encode_broadcasts_vocab(spark):
    """bpe_encode joins the encoded vocabulary back by BROADCAST — the
    corpus-sized side never shuffles for the join."""
    docs = spark.createDataFrame(
        [(i, "low lower lowest new newer") for i in range(20)],
        "doc_id long, text string",
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        bpe_encode,
        train_bpe,
    )

    merges = train_bpe(docs, num_merges=3)
    assert has_broadcast_join(bpe_encode(docs, merges))


def test_pq_and_ivfpq_plans_broadcast_small_sides_only(spark):
    """The PQ family's scale contract, plan-pinned: every join against the
    codebook / centroid / distance-table sides is a BROADCAST join (those
    tables are k-rows by construction), and the corpus side is never
    collected or broadcast — the only cross joins in the plan carry a
    broadcast (tiny) side."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        ann_ivfpq_topk,
        ann_pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id % 25 = 0")
    for df in (
        ann_pq_topk(q, emb, k=3, rerank=16),
        ann_ivfpq_topk(q, emb, k=3, n_probe=2, rerank=16),
    ):
        df.count()  # AQE: final plan only after execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        # no shuffle-based cartesian of corpus x corpus survives anywhere
        assert "CartesianProduct" not in plan


def test_bm25_plan_broadcasts_queries_not_corpus(spark):
    """bm25_topk's scale contract: the query-term list joins broadcast (the
    corpus-sized tf table is never reshuffled for matching), the top-k
    window carries a map-side WindowGroupLimit partial, and no UDF or
    cartesian product appears anywhere."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = docs.filter("doc_id % 23 = 0").selectExpr(
        "doc_id AS query_id", "text AS query_text"
    )
    df = bm25_topk(docs, qs, k=5)
    df.count()  # AQE: final plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r5_shape_ops_stay_jvm_side(spark):
    """The r5 declarative claims, pinned: SBD KNN (q142), SBD k-medoids
    (q145), ROCKET features (q146) and feature-space KNN (q147) are pure
    Catalyst — ZERO Python nodes; DTW k-medoids (q143) crosses Python only
    for the distance kernel. q146 additionally has no join at all."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_plan,
    )

    for q in (
        "_q142_sbd_knn",
        "_q145_sbd_kmedoids",
        "_q146_rocket_features",
        "_q147_rocket_knn",
    ):
        df = getattr(entry_mod, q)(spark, SF)
        assert python_eval_nodes(df) == 0, q
    feats = entry_mod._q146_rocket_features(spark, SF)
    assert "Join" not in executed_plan(feats)
    kmed = entry_mod._q143_ts_kmedoids(spark, SF)
    assert python_eval_nodes(kmed) >= 1  # the DTW kernel, nothing else py-side


def test_executed_node_counts_pinned_on_known_plan(spark):
    """r6 (VERDICT r5 #3): the tree-walk counter, pinned against a plan
    whose true shape is known by construction — a cached base aggregated
    through one shuffle and broadcast-joined to a tiny dim. The old
    substring counter saw the cached child plan reprinted under every
    InMemoryRelation reference; the tree walk must report exactly the
    executed nodes: ONE shuffle exchange, ONE broadcast join, ONE cache
    scan, zero Python, and the three compiled codegen stages."""
    from pyspark.sql import functions as F

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_node_counts,
    )

    base = spark.range(1000).withColumn("k", F.col("id") % 7).cache()
    try:
        base.count()
        dim = spark.range(7).withColumnRenamed("id", "k")
        df = base.groupBy("k").count().join(F.broadcast(dim), "k")
        nc = executed_node_counts(df)  # collects: finalizes the AQE plan
        assert nc["exchanges"] == 1, nc
        assert nc["broadcast_exchanges"] == 1, nc
        assert nc["broadcast_joins"] == 1, nc
        assert nc["inmem_scans"] == 1, nc
        assert nc["python_nodes"] == 0, nc
        assert nc["codegen_stages"] == 3, nc
        # and a Python crossing IS seen when one exists
        from pyspark.sql.types import DoubleType

        @F.pandas_udf(DoubleType())
        def _twice(s):
            return s * 2.0

        nc2 = executed_node_counts(base.select(_twice("k").alias("t")))
        assert nc2["python_nodes"] == 1, nc2
    finally:
        base.unpersist()


def test_scan_metadata_from_tree_walk(spark, sf_dir=None):
    """r7 (VERDICT r6 #4): pushed filters and the pruned read schema come
    off the scan NODES of the executed tree (FileSourceScanExec.
    pushedDownFilters / requiredSchema), not a formatted-string regex.
    Pinned against a parquet scan whose pushdown is known by
    construction: a filtered two-column projection must push the filter
    and read exactly the two columns; a cached read must report ZERO
    file scans (the cache scan replaces it)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_node_counts,
    )

    path = "/root/testdata/sf0.001/lineitem.parquet"
    df = (
        spark.read.parquet(path)
        .filter(F.col("l_quantity") < 5)
        .select("l_orderkey", "l_quantity")
    )
    nc = executed_node_counts(df)
    assert nc["file_scans"] == 1, nc
    assert sorted(nc["scan_columns"]) == ["l_orderkey", "l_quantity"], nc
    assert any("LessThan(l_quantity" in f for f in nc["pushed_filters"]), nc
    assert any("IsNotNull(l_quantity)" in f for f in nc["pushed_filters"]), nc
    # a cached table's file scan ran at population — the walk must not
    # attribute it to this query
    cached = spark.read.parquet(path).select("l_orderkey").cache()
    try:
        cached.count()
        nc2 = executed_node_counts(cached.groupBy().count())
        assert nc2["file_scans"] == 0, nc2
        assert nc2["scan_columns"] == [], nc2
        assert nc2["inmem_scans"] == 1, nc2
    finally:
        cached.unpersist()


def _score_stream_plan(spark, test_df, train_df, tmp_path):
    """Executed plan of one score_stream micro-batch (file stream in,
    memory sink out)."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.streaming import (
        score_stream,
    )

    src = str(tmp_path / "stream_src")
    test_df.limit(10).write.parquet(src)
    stream = spark.readStream.schema(test_df.schema).parquet(src)
    q = (
        score_stream(stream, train_df, metric="euclidean", k=3)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("single_eval_plan")
        .start()
    )
    try:
        q.processAllAvailable()
        return q._jsq.streamingQuery().lastExecution().executedPlan()
    finally:
        q.stop()


# shuffle and cross-validation plan a CartesianProduct whose task count is
# the product of the input partition counts; two partitions a side keep
# them quick
_PAIR_SITES = {
    "broadcast": lambda te, tr: knn_join(te, tr, metric="euclidean", k=5, strategy="broadcast"),
    "shuffle": lambda te, tr: knn_join(
        te.coalesce(2), tr.coalesce(2), metric="euclidean", k=5, strategy="shuffle"
    ),
    "knn_predict_1nn": lambda te, tr: knn_predict_1nn(te, tr, metric="euclidean"),
    "knn_join_pruned": lambda te, tr: knn_join_pruned(te, tr, metric="euclidean", k=5, length=24),
    "knn_join_lb": lambda te, tr: knn_join_lb(te, tr, metric="dtw", k=5, length=24),
    # small pair volume: the volume gate keeps conformal declarative
    "conformal": lambda te, tr: conformal_knn(te, tr, metric="euclidean"),
    "cross_validate": lambda te, tr: knn_cross_validate(tr.coalesce(2), folds=3, k=5),
}


@pytest.mark.parametrize("site", [*_PAIR_SITES, "score_stream"])
def test_pair_distance_evaluated_once(spark, har_dfs, tmp_path, site):
    """Every declarative pair-distance site evaluates its distance once per
    pair: the fold sits at exactly one executed-plan node, the Generate
    that produces _d (functions/distance.py::with_distance). The
    withColumn + filter(_d != 0) shape fails this: pushdown copies the
    fold into the join condition under the projection computing it."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        executed_node_counts,
        hof_nodes,
        repeated_hofs,
    )

    train_df, test_df = har_dfs
    if site == "score_stream":
        df = _score_stream_plan(spark, test_df, train_df, tmp_path)
    else:
        df = _PAIR_SITES[site](test_df, train_df)
    nodes = hof_nodes(df)
    if site == "knn_join_lb":
        # DTW is the pandas_udf: one Python node (the phase-3 scorer; the
        # phase-2 scorer ran into a cache) and no HOF evaluated twice
        assert executed_node_counts(df, materialize=False)["python_nodes"] == 1
        assert repeated_hofs(df, materialize=False) == {}, nodes
        return
    if site == "conformal":
        # one pair pipeline per side (calibration, test), neither split
        # into label halves nor re-run by a second consumer: each fold in
        # one Generate, and the calibration-score count too
        folds = {h: n for h, n in nodes.items() if "_pf, lambdafunction" in h}
        assert len(folds) == 2, nodes
        assert all(n == ["GenerateExec"] for n in folds.values()), folds
        assert repeated_hofs(df, materialize=False) == {}, nodes
        return
    folds = {h: n for h, n in nodes.items() if "zip_with(_tf, _rf" in h}
    assert list(folds.values()) == [["GenerateExec"]], nodes


def test_repeated_hofs_flags_pushed_down_fold(spark, har_dfs):
    """The audit sees the double evaluation it exists for: a withColumn +
    filter on a fold over a cross join puts the fold in the join
    condition AND the projection above it."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import (
        sq_euclidean,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.plans import (
        repeated_hofs,
    )

    train_df, test_df = har_dfs
    pairs = test_df.select(F.col("features").alias("a")).crossJoin(
        F.broadcast(train_df.select(F.col("features").alias("b")))
    )
    df = pairs.withColumn("d", sq_euclidean(F.col("a"), F.col("b"))).filter(F.col("d") != 0)
    assert list(repeated_hofs(df).values()) == [2]
