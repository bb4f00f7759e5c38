"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs are chosen so the same
logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the
Pandas-UDF slow path, and shuffle partitions sized for the local core
count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g. A heap as large as
    the host lets the JVM grow into memory it cannot keep before it
    collects, and the host's OOM killer then ends the session."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{max(1024, min(half_mb, 16 * 1024))}m"


def get_spark(app_name: str = "hyper_storage_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        try:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
        except ValueError:  # e.g. "auto" / stray whitespace: fall back
            cpus = 0
        cpus = cpus or min(os.cpu_count() or 4, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
