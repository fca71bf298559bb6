"""Parquet sources / sinks (reference: SURVEY.md §2.1 S1-S3).

The reference scans Hive-metastore tables (Team11-Project.py:43-46) and sinks
predictions via ``df.write.format("parquet").saveAsTable`` (Team11-Project.py:199).
Driver testdata is plain Parquet files, so the scan is ``spark.read.parquet``;
Catalyst handles predicate pushdown / column pruning on these scans for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table (S1)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def save_table(df: DataFrame, path_or_name: str, *, mode: str = "overwrite") -> None:
    """Parquet sink (S3). A path writes files; a bare name writes a managed table
    (matching the reference's ``saveAsTable``, Team11-Project.py:199)."""
    if os.sep in path_or_name or path_or_name.startswith("file:"):
        df.write.mode(mode).parquet(path_or_name)
    else:
        df.write.mode(mode).format("parquet").saveAsTable(path_or_name)


def save_table_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: str | list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet sink — the partition-pruning path.

    Writes ``path/col=value/part-*.parquet`` directories; any downstream
    scan filtering on a partition column reads ONLY the matching
    directories (PartitionFilters in the scan node — never a data-file
    open for excluded partitions). The complement of the bucketed sink:
    bucketing co-locates high-cardinality JOIN keys, partitioning prunes
    low-cardinality FILTER keys (date, source, language...). Keep
    partition cardinality bounded (thousands, not millions): each value is
    a directory, and tiny-file explosion hurts more than pruning helps —
    that is what max_records_per_file/repartition-before-write manage.
    Pruning proven in test_ingest::test_partitioned_write_prunes.
    """
    partition_cols = (
        [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    )
    w = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files. Returns the file count.

    Streaming sinks and fine-grained partitioned writes accumulate tiny
    files; at scale every scan then pays one task + one open per file
    (and the NameNode/listing pays per object). Compaction is the standard
    maintenance pass. The rewrite is a single narrow job: a round-robin
    ``repartition(n)`` (no key, no skew) sized from the CURRENT on-disk
    bytes, so output files land near the target regardless of input
    fragmentation. Writes to ``out_path`` — never in place (a failed
    in-place rewrite loses data; callers swap directories atomically).

    Local-FS file sizing; on HDFS/S3 substitute the FileSystem status call.
    """
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-total // target_file_bytes))
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(
        out_path
    )
    return n_files


def save_table_bucketed(
    df: DataFrame,
    name: str,
    *,
    bucket_cols: str | list[str],
    num_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the co-located-join path at 100 TB.

    Two tables bucketed on the same key with the same bucket count join with
    NO exchange on either side (SortMergeJoin reads bucket i against bucket
    i directly); the shuffle is paid once at write time instead of on every
    downstream join/aggregate. Sorting within buckets additionally drops the
    sort phase. This is Spark's native equivalent of the "pre-partitioned
    fact table" every large pipeline ends up needing; proven shuffle-free in
    test_ingest::test_bucketed_join_is_shuffle_free.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def upsert_partitions(
    df: DataFrame,
    path: str,
    *,
    partition_by: str,
) -> None:
    """Incremental partition refresh: overwrite ONLY the hive-style
    partitions present in ``df``, leaving every other partition untouched
    (spark.sql.sources.partitionOverwriteMode=dynamic, scoped to this
    write).

    The daily-pipeline upsert for immutable-partition data (events by day,
    documents by ingest batch): recompute one day, rewrite one directory —
    no read-modify-write of a 100 TB table, no MERGE log needed. Combine
    with ``compact_parquet`` on the rewritten partitions for file sizing.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
