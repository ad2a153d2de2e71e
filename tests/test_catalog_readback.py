"""Reading committed snapshots back: every manifest records the schema
its writer wrote, so SnapshotCatalog.read_snapshot infers nothing and,
with the local session's driver-side listing, runs no Spark job.  The
result must equal an inferred read of the same data dir; manifests
without a schema (written before it was recorded) still read."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures


def _extract(df):
    from ukrainian_ocr_pipeline_spark.operators.extract import extract_pages
    return extract_pages(df, with_matches=False, with_regions=False).drop("html", "text")


def _project(df):
    return df.select("url", "lang", F.length("html").alias("n_bytes"))


def _read_jobs(spark, cat, table, sid):
    sc = spark.sparkContext
    group = f"read-{table}-{sid}"
    sc.setJobGroup(group, group)
    try:
        df = cat.read_snapshot(spark, table, sid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_as_inferred(spark, df, data_dir):
    inferred = spark.read.option("recursiveFileLookup", "true").parquet(data_dir)
    assert df.schema == inferred.schema
    assert df.orderBy("url").collect() == inferred.orderBy("url").collect()


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """One 64-bucket and one full-mode snapshot of the same pages."""
    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("readback") / "wh"))
    pages = pages_from_fixtures(spark, 100)
    cat.write_snapshot_bucketed(pages, "bucketed", "s1", n_buckets=64,
                                transform=_extract)
    cat.write_snapshot(_extract(pages), "full", "s1")
    return cat


@pytest.mark.parametrize("table", ["bucketed", "full"])
def test_committed_read_runs_no_spark_job(spark, committed, table):
    m = committed.latest_snapshot(table)
    assert "schema" in m
    df, jobs = _read_jobs(spark, committed, table, "s1")
    assert jobs == 0
    assert df.count() == 100
    _assert_same_as_inferred(spark, df, m["data_dir"])


def test_manifest_without_schema_still_reads(spark, committed):
    """A manifest committed before schemas were recorded falls back to
    inference."""
    m = dict(committed.latest_snapshot("full"))
    del m["schema"]
    m.update(snapshot_id="legacy", sequence=1)
    with open(os.path.join(committed._snap_dir("full"), "legacy.json"), "w") as fh:
        json.dump(m, fh)
    df = committed.read_snapshot(spark, "full", "legacy")
    assert df.count() == 100
    _assert_same_as_inferred(spark, df, m["data_dir"])


def test_resume_with_nothing_pending_records_schema(spark, tmp_path):
    """Every bucket published before the crash: the resume computes no
    wave, yet its manifest still carries the written schema."""
    n = 4
    pages = pages_from_fixtures(spark, 30)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write_snapshot_bucketed(pages, "t", "s1", n_buckets=n,
                                    transform=_project, fail_after_bucket=n - 1)
    assert not cat.is_committed("t", "s1")
    markers = cat._markers_dir("t", "s1")
    assert len([f for f in os.listdir(markers) if f.endswith(".done")]) == n

    cat.write_snapshot_bucketed(pages, "t", "s1", n_buckets=n, transform=_project)
    m = cat.latest_snapshot("t")
    assert "schema" in m
    df, jobs = _read_jobs(spark, cat, "t", "s1")
    assert jobs == 0
    assert df.count() == 30
    _assert_same_as_inferred(spark, df, m["data_dir"])
