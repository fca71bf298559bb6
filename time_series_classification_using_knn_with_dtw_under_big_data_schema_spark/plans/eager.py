"""Eager single-row aggregates as one observed scan.

``df.agg(...).first()`` plans a partial aggregate, an exchange to one
partition and a final aggregate: under AQE that is two Spark jobs in two
stages, with a re-plan between them, for one row of routing stats.
``agg_row`` computes the same aggregates as observed metrics of a scan
whose rows go to the ``noop`` sink: one SQL execution, one Spark job, one
stage, no exchange and no adaptive re-plan. The metrics are folded on the
driver from the tasks' partial buffers, so the values are the aggregate's
own: an empty frame reads count 0 and NULL max/min/sum, as ``agg`` does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def agg_row(df: DataFrame, **aggs: Column) -> dict:
    """The one row of ``df.agg(*aggs)``, as {name: value}, from one
    single-stage scan. The scan is projected to the columns the aggregates
    read (the optimizer prunes through the observation), so a parquet- or
    cache-backed frame reads only those."""
    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in aggs.items()])
    observed.select().write.format("noop").mode("overwrite").save()
    return obs.get
