"""SparkSession factory tuned for this engine.

Local-mode settings verify correctness; the same declarative plans are what a
multi-executor cluster would run — partitioning is by instrument key and
event-time windows, so scale-out is a matter of shuffle-partition counts and
input splits, not plan changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's RAM, at most 90g. Local mode runs every task in the
    driver JVM; a heap ceiling above physical memory lets the heap grow
    until the kernel OOM-kills the JVM partway through a long session."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "90g"
    return f"{max(1, min(90, total // 2**31))}g"


def get_spark(app_name: str = "spark-signals", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE re-plans at runtime: coalesces tiny shuffle partitions locally,
        # splits skewed ones on a real cluster.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # don't let AQE re-serialize CPU-heavy stages over byte-small inputs:
        # with the default 1MB floor, a 2MB shuffle of 5k documents coalesces
        # to 1-2 partitions and md5/shingle work runs on one core
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame API call with call-site capture
        # for richer error messages: getActiveSession + a conf.get + origin
        # set/clear — ~4 extra py4j round trips per call. A deep pipeline
        # chain is ~340 wrapped calls, so this is pure driver-side tax
        # (~25% of plan-construction wall measured at r16); the capture has
        # zero effect on plans or results.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # the driver's events.parquet has shipped as both timestamp[ns]
        # (read as raw int64 via nanosAsLong, converted ns → µs in
        # io.sources) and timestamp[µs] NTZ (cast to TIMESTAMP in
        # io.sources.utc_timestamps); either flavor normalizes to one type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
