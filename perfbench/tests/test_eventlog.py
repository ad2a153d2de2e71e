"""The event-log summarizer over a tiny logged job.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.host import session_conf  # noqa: E402
from perfbench.layers import Tracer, now_ms  # noqa: E402


@pytest.fixture(scope="module")
def logged(tmp_path_factory):
    """Run one Python-boundary job and one shuffle job under two labels
    in a session with the bench's event-log settings; return the log
    path, the spans and the input path."""
    from pyspark.sql import SparkSession, functions as F

    work = str(tmp_path_factory.mktemp("eventlog"))
    events = os.path.join(work, "events")
    builder = SparkSession.builder.master("local[2]").appName("eventlog-test")
    for k, v in session_conf(work, events).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    data = os.path.join(work, "data")
    spark.range(0, 300, 1, 3).write.parquet(data)

    def plus_one(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        for b in batches:
            yield pa.RecordBatch.from_arrays([pc.add(b.column(0), 1)],
                                             names=["id"])

    tracer = Tracer(spark)
    with tracer.span("py"):
        spark.read.parquet(data).mapInArrow(plus_one, "id long").write.format(
            "noop").mode("overwrite").save()
    with tracer.span("shuffle"):
        spark.read.parquet(data).groupBy((F.col("id") % 7).alias("k")).count(
        ).collect()
    # a job submitted outside `span` but inside a span's time window is
    # attributed by time, as streaming micro-batch jobs are
    t0 = now_ms()
    spark.sparkContext.setJobDescription("not a bench label")
    spark.range(10).collect()
    tracer.spans.append(("by-time", t0, now_ms()))
    spark.stop()
    (log,) = glob.glob(os.path.join(events, "*"))
    return log, tracer.spans, data


def test_python_node_metrics(logged):
    log, spans, _ = logged
    g = eventlog.summarize(log, spans)["py"]
    assert g["jobs"] >= 1
    assert g["py"]["rows"] == 300
    assert g["py"]["bytes_in"] > 0 and g["py"]["bytes_out"] > 0
    assert g["py"]["run_ms"] >= 0 and g["py"]["start_ms"] >= 0
    assert g["shuffle_write_bytes"] == 0


def test_scan_rows_by_location(logged):
    log, spans, data = logged
    s = eventlog.summarize(log, spans)
    rows = {loc: n for loc, n in eventlog.total(s)["scan_rows"].items()
            if data in loc}
    assert sum(rows.values()) == 600  # scanned once per labelled job


def test_shuffle_group(logged):
    log, spans, _ = logged
    g = eventlog.summarize(log, spans)["shuffle"]
    assert g["shuffle_write_bytes"] > 0 and g["shuffle_read_bytes"] > 0
    assert g["stages"] >= 2 and g["tasks"] >= 2
    assert g["py"]["rows"] == 0


def test_group_by_span_time(logged):
    log, spans, _ = logged
    s = eventlog.summarize(log, spans)
    assert s["by-time"]["jobs"] >= 1
    assert s["other"]["jobs"] == 1  # the input write, outside every span


def test_total_excludes(logged):
    log, spans, _ = logged
    s = eventlog.summarize(log, spans)
    assert (eventlog.total(s, exclude=("shuffle",))["shuffle_write_bytes"]
            == 0)
    assert eventlog.total(s)["jobs"] == sum(g["jobs"] for g in s.values())
