"""cache_scope / register_cache lifetime management (caching.py)."""

from __future__ import annotations

from pyspark import StorageLevel

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
