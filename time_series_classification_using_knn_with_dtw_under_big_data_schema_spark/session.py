"""SparkSession factory with engine defaults.

Local-mode testing knobs per /opt/skills/guides/pyspark_guide.md; the same
builder settings (AQE on, UTC, Arrow on) are what we would ship on a real
cluster — only master/memory are local-specific.
"""

from __future__ import annotations

import os
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import daemon


def daemon_module() -> str:
    """The Python worker daemon a new session starts: this package's
    ``daemon`` where it saves work and Spark's Python workers can import
    it, ``pyspark.daemon`` otherwise.

    It saves work where ``zipimport`` re-reads eagerly
    (``daemon.eager_zipimport``). Workers can import it when the package's
    parent directory is the directory they start in, a ``PYTHONPATH``
    entry or a site directory. The first two are read from the running
    JVM when there is one (the daemon inherits its working directory and
    environment), from this process otherwise.
    """
    if not daemon.eager_zipimport():
        return "pyspark.daemon"
    jvm = SparkContext._jvm
    if jvm is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH", "")
    else:
        cwd = jvm.java.lang.System.getProperty("user.dir")
        pythonpath = jvm.java.lang.System.getenv("PYTHONPATH") or ""
    roots = [cwd, *pythonpath.split(os.pathsep), *site.getsitepackages(), site.getusersitepackages()]
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    resolved = {os.path.realpath(os.path.join(cwd, r)) for r in roots if r}
    return daemon.__name__ if os.path.realpath(parent) in resolved else "pyspark.daemon"


def get_spark(app_name: str = "tsknn-engine", *, shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's SparkSession (created, or the active one returned).

    Local mode on ``SPARK_GRAFT_CPUS`` task threads (default 32), AQE on,
    UTC session time zone, Arrow transfer, no UI or console progress bar.
    Python workers start from ``daemon_module()``: this package's daemon
    (``daemon.py``: no per-task re-read of Spark's zip archives, and the
    daemon's imports frozen out of each task's ``gc.collect()``) where the
    interpreter re-reads eagerly and the workers can import the package;
    ``pyspark.daemon`` otherwise.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the pandas_udf round-trip and feed the
        # batched DTW kernel rectangular blocks worth vectorizing over
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Fallback for parquet files that store timestamp[ns] (Spark has no
        # nanosecond type): read them as long nanos instead of erroring.
        # Driver testdata stores events.ts as timestamp[us], so this conf is a
        # no-op there — consumers must branch on the actual dtype (see
        # __spark_entry__._ts_us / streaming.joins._event_time).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.python.daemon.module", daemon_module())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
