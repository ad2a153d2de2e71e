"""get_spark's host-derived defaults."""

import os

from ukrainian_ocr_pipeline_spark.sources.session import (
    DRIVER_MEMORY_CAP_MB, _read_meminfo, driver_memory,
)

MEMINFO = """MemTotal:       16479424 kB
MemFree:         1203456 kB
MemAvailable:   11540320 kB
"""


def test_driver_memory_is_half_of_memtotal_capped():
    # 16,479,424 kB = 16,093 MB -> half, rounded down
    assert driver_memory(MEMINFO) == "8046m"
    big = MEMINFO.replace("16479424", str(256 * 1024 * 1024))
    assert driver_memory(big) == f"{DRIVER_MEMORY_CAP_MB}m" == "24576m"
    assert driver_memory("MemTotal:  2097152 kB\n") == "1024m"


def test_driver_memory_without_memtotal_is_the_cap():
    assert driver_memory("") == f"{DRIVER_MEMORY_CAP_MB}m"
    assert driver_memory("MemFree: 1 kB\n") == f"{DRIVER_MEMORY_CAP_MB}m"


def test_local_session_defaults(spark):
    conf = spark.sparkContext.getConf()
    want = os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(_read_meminfo())
    assert conf.get("spark.driver.memory") == want
    # local mode lists every catalog dir on the driver, never via a job
    assert int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold")) == 2 ** 31 - 1
