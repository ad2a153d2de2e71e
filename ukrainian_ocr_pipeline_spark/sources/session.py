"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# html rows run 1KB..2.5MB; the default Arrow batch of 10k rows could pin
# gigabytes per task — 512 rows/batch keeps a worst-case batch ~1.3GB and a
# typical batch ~5MB. This is the #1 memory lever at 100TB scale.
ARROW_BATCH_ROWS = "512"


def host_cpus() -> int:
    """CPUs this process may run on (the affinity mask, not the
    machine's count: a pinned or containerised driver sees fewer)."""
    return len(os.sched_getaffinity(0))


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
