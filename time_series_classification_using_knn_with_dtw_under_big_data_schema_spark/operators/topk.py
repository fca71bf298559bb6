"""Per-key top-k operator (SURVEY.md §2.5 K1).

Reference: two-phase ``heapq.nsmallest(k)`` — partial per partition
(Team11-Project.py:180,361), final after groupByKey (195,377). The Spark-first
plan is a rank window + filter:

    row_number().over(Window.partitionBy(key).orderBy(orderings)) <= k

Catalyst's WindowGroupLimit optimization (Spark >= 3.5) inserts a PARTIAL
window-group-limit before the shuffle, which is exactly the reference's
two-phase heap — map-side k-pruning for free, shuffling at most k rows per
key per map partition instead of the whole cross product.

Tie-break parity: heapq.nsmallest on (distance, label) tuples orders by
distance then label ascending — callers pass the same ordering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def check_k(k: int) -> None:
    """The one k >= 1 guard of every top-k entry point (a zero budget
    used to return an empty result silently)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def topk_per_key(
    df: DataFrame,
    keys: str | Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    *,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the k smallest rows per key group under ``order_by``; adds a dense
    1-based ``rank_col``."""
    if isinstance(keys, str):
        keys = [keys]
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
