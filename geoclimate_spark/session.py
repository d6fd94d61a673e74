"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the config block is written for a real
multi-executor cluster (AQE, skew-join handling, Arrow batching) and works
identically on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half the host's RAM, at most 16g: local
    mode runs every executor thread inside the driver JVM, and a heap sized
    past the host lets two sessions exhaust it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1024, min(16 * 1024, kib // 2048))}m"


def get_spark(app: str = "geoclimate_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        # SPARK_GRAFT_CPUS, else every CPU this process may run on
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        # ~2x cores locally; on a real cluster this would be sized to
        # total-cores * 2..3 or left to AQE coalescing from a high initial.
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
