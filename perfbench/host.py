"""Host facts and the bench-side Spark session sizing.

The engine's `get_spark` defaults assume a 32-CPU box with a 24 GB
driver; the bench passes `master` and `extra` so every run is sized
from the host it runs on (CPUs this process may use, /proc/meminfo).
"""

from __future__ import annotations

import os
import platform


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_mb: int) -> int:
    # local mode runs executors inside Spark's driver JVM; a quarter of the
    # host leaves room for the Python workers (one per core) and the
    # page cache, capped so a big host does not get a huge, slow heap
    return max(1024, min(mem_mb // 4, 8192))


def host_facts() -> dict:
    import pyarrow
    import pyspark
    mem = mem_total_mb()
    return {"nproc": nproc(), "mem_total_mb": mem,
            "driver_memory_mb": driver_memory_mb(mem),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def session_conf(work: str, event_dir: str | None = None) -> dict:
    """Extra Spark conf for `get_spark`: host-sized driver, every
    temporary file inside the bench's work dir, and (traced runs only)
    an uncompressed, non-rolling event log the stdlib can read."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_memory_mb(mem_total_mb())}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf
