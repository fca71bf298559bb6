"""File-format readers beyond parquet (SURVEY.md §2.1 'absent' row: the
reference reads only Hive tables; our engine exposes the standard Spark
sources with schema-explicit defaults — no schema inference in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """1-string-column DataFrame (column ``value``) — the reference's raw
    ingest shape (Team11-Project.py:43-46); feed to parse_series_text."""
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    *,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    return spark.read.schema(schema).csv(path, header=header, sep=sep)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)
