"""cache_scope / register_cache lifetime management (caching.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.caching import (
    cache_scope,
    register_cache,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    dedup_minhash_lsh,
)


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_register_cache_noop_outside_scope(spark):
    df = spark.range(10).cache()
    assert register_cache(df) is df
    df.count()
    assert _is_cached(df)  # no scope open: nothing released
    df.unpersist()


def test_cache_scope_releases_and_nests(spark):
    outer_df = spark.range(20).cache()
    with cache_scope() as outer:
        register_cache(outer_df)
        with cache_scope() as inner:
            inner_df = register_cache(spark.range(30).cache())
            inner_df.count()
            assert _is_cached(inner_df)
        assert not _is_cached(inner_df)  # inner scope released its frame
        assert _is_cached(outer_df)  # outer cache untouched by inner exit
        assert outer == [outer_df] and inner == [inner_df]
    assert not _is_cached(outer_df)


def test_operator_caches_released_by_scope(spark):
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox document number {i % 3} padded text") for i in range(12)],
        "doc_id long, text string",
    )
    with cache_scope() as frame:
        dedup_minhash_lsh(docs, threshold=0.5, hash_mode="kernel").count()
        assert len(frame) >= 1  # the signature cache registered itself
        assert all(_is_cached(df) for df in frame)
    assert all(not _is_cached(df) for df in frame)


def test_pair_scan_broadcasts_released_by_scope(spark, har_dfs):
    """Every broadcast the pair-scan strategies create (the kernel's train
    matrix, the reverse route's test rows) is destroyed when the innermost
    cache_scope exits; results built inside the scope are consumed there."""
    from pyspark import Broadcast

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        knn_join,
    )

    train_df, test_df = har_dfs
    with cache_scope() as frame:
        for strategy in ("kernel", "reverse"):
            assert knn_join(test_df, train_df, k=2, strategy=strategy).count() == 80
        shared = [b for b in frame if isinstance(b, Broadcast)]
        assert len(shared) == 2
        assert all(b._jbroadcast.isValid() for b in shared)
    assert not any(b._jbroadcast.isValid() for b in shared)


def _driver_storage_used(spark) -> int:
    """Bytes of storage memory in use across the (local-mode) block
    managers: max minus remaining, from the driver's memory status."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used


@pytest.mark.slow
def test_broadcast_soak_releases_every_share(spark, monkeypatch):
    """50 mixed pair-scan calls in one session, each inside cache_scope
    (KNN kernel and reverse, ANN kernel, conformal kernel): every
    broadcast created through pairscan.share is destroyed when its scope
    exits, and the driver's storage memory after call 50 stays within a
    small bound of its value after call 5. Each cycle of four calls
    broadcasts ~1.4 MB, and the spy below keeps every broadcast
    reachable, so a leak would grow the storage by ~15 MB."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        ann_brute_topk,
        conformal_knn,
        knn_join,
        pairscan,
    )

    shared = []
    orig = pairscan.share
    monkeypatch.setattr(
        pairscan, "share", lambda s, payload: shared.append(orig(s, payload)) or shared[-1]
    )
    rng = np.random.default_rng(11)
    schema = "series_id long, features array<double>, label double"
    series = lambda n, start: [
        (start + i, [float(x) for x in rng.normal(0, 1, 64)], float(i % 3)) for i in range(n)
    ]
    train = spark.createDataFrame(series(1000, 0), schema)  # 512 KB matrix
    test = spark.createDataFrame(series(8, 10_000), schema)
    emb = train.select(F.col("series_id").alias("vec_id"), F.col("features").alias("embedding"))
    calls = [
        lambda: knn_join(test, train, k=2, strategy="kernel").count(),
        lambda: knn_join(test, train, k=2, strategy="reverse").count(),
        lambda: ann_brute_topk(emb.limit(6), emb, k=3, strategy="kernel").count(),
        lambda: conformal_knn(test, train, min_kernel_pairs=0).count(),
    ]
    used = {}
    for i in range(50):
        with cache_scope():
            assert calls[i % len(calls)]() > 0
        used[i + 1] = _driver_storage_used(spark)
    assert len(shared) == 50
    assert not any(b._jbroadcast.isValid() for b in shared)
    assert used[50] - used[5] < 4 << 20, used
