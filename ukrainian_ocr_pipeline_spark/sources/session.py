"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# html rows run 1KB..2.5MB; the default Arrow batch of 10k rows could pin
# gigabytes per task — 512 rows/batch keeps a worst-case batch ~1.3GB and a
# typical batch ~5MB. This is the #1 memory lever at 100TB scale.
ARROW_BATCH_ROWS = "512"

# upper bound of the default driver heap (see driver_memory)
DRIVER_MEMORY_CAP_MB = 24 * 1024


def host_cpus() -> int:
    """CPUs this process may run on (the affinity mask, not the
    machine's count: a pinned or containerised driver sees fewer)."""
    return len(os.sched_getaffinity(0))


def driver_memory(meminfo: str) -> str:
    """Default `spark.driver.memory` from /proc/meminfo's text: half of
    MemTotal (local mode runs the executors and Python workers on the
    same host), capped at DRIVER_MEMORY_CAP_MB; the cap when MemTotal
    is missing."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            half_mb = int(line.split()[1]) // 1024 // 2
            return f"{min(DRIVER_MEMORY_CAP_MB, half_mb)}m"
    return f"{DRIVER_MEMORY_CAP_MB}m"


def _read_meminfo() -> str:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            return fh.read()
    except OSError:
        return ""


def get_spark(app: str = "ukrainian_ocr_pipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())
    master = master or f"local[{cpus}]"
    n_threads = int(master[master.index("[") + 1:-1]) if "[" in master and master[-1] == "]" and master[master.index("[") + 1:-1].isdigit() else host_cpus()
    b = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_threads))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH_ROWS)
        # wide pages => keep file-split sizes moderate so tasks stay uniform
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or driver_memory(_read_meminfo()))
    )
    if master == "local" or master.startswith("local["):
        # Spark lists > 32 dirs (a 64-bucket snapshot) through a Spark
        # job; in local mode its tasks run in this same JVM, and for a
        # catalog's few dozen local dirs the job's launches cost more
        # than the listing itself, so list on the driver
        b = b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                     str(2 ** 31 - 1))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
