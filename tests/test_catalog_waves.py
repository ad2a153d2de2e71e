"""Wave-granular bucketed writes: SnapshotCatalog.write_snapshot_bucketed
computes a wave of buckets per Spark job and publishes the wave bucket
by bucket.  These tests pin the empty-input cases, both wave regimes
(W>1 and W=1) under a crash, the job count of a one-wave write, and the
spread of a narrow input's wave over every task slot."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog, _wave_width
from ukrainian_ocr_pipeline_spark.sources.pages import pages_from_fixtures


def _extract(df):
    from ukrainian_ocr_pipeline_spark.operators.extract import extract_pages
    return extract_pages(df, with_matches=False, with_regions=False).drop("html", "text")


def _project(df):
    return df.select("url", "lang", F.length("html").alias("n_bytes"))


def _pages(spark, rows):
    from ukrainian_ocr_pipeline_spark.functions.schemas import PAGES_SCHEMA
    pdf = pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def _types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _markers(cat, table, sid):
    d = cat._markers_dir(table, sid)
    return sorted(f for f in os.listdir(d) if f.endswith(".done"))


def _staging_dirs(cat, table):
    tdir = cat._table_dir(table)
    return sorted(os.path.join(tdir, d) for d in os.listdir(tdir)
                  if d.startswith("staging-"))


def _py_project(df):
    """A transform with a Python stage: an identity mapInArrow."""
    def fn(batches):
        yield from batches
    return df.select("url", "lang").mapInArrow(fn, "url string, lang string")


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_wave_width_rule():
    # W = ceil(n_buckets * slots / partitions), at least 1
    assert _wave_width(64, 4, 1) == 256
    assert _wave_width(6, 8, 16) == 3
    assert _wave_width(4, 8, 32) == 1
    assert _wave_width(4, 8, 10 ** 6) == 1
    assert _wave_width(4, 8, 0) == 32


def test_empty_input_commits_readable_snapshot(spark, tmp_path):
    """0 rows: the committed snapshot reads back with the transform's
    schema, not UNABLE_TO_INFER_SCHEMA."""
    pages = _pages(spark, [])
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.write_snapshot_bucketed(pages, "t", "s0", n_buckets=4, transform=_extract)
    got = cat.read_snapshot(spark, "t", "s0")
    assert got.count() == 0
    assert _types(got.schema) == _types(_extract(pages).schema)
    data = cat.latest_snapshot("t")["data_dir"]
    assert sorted(os.listdir(data)) == [f"bucket={b}" for b in range(4)]


def test_fewer_rows_than_buckets(spark, t2_rows, tmp_path):
    """5 rows over 16 buckets: every bucket=K dir exists (empty ones hold
    a schema-only file) and each row sits in its hash bucket."""
    pages = _pages(spark, t2_rows[:5])
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.write_snapshot_bucketed(pages, "t", "s0", n_buckets=16, transform=_extract)
    got = cat.read_snapshot(spark, "t", "s0")
    want = _extract(pages)
    assert _types(got.schema) == _types(want.schema)
    got_pd = got.orderBy("url").toPandas()
    want_pd = want.orderBy("url").toPandas()
    assert list(got_pd.url) == list(want_pd.url)
    assert (got_pd.extracted_text.values == want_pd.extracted_text.values).all()

    data = cat.latest_snapshot("t")["data_dir"]
    assert sorted(os.listdir(data)) == sorted(f"bucket={b}" for b in range(16))
    placed = (spark.read.option("basePath", data).parquet(data)
              .select("url", "bucket",
                      F.pmod(F.xxhash64("url"), F.lit(16)).alias("want"))
              .toPandas())
    assert len(placed) == 5 and (placed.bucket == placed.want).all()


def test_crash_mid_wave_resumes_and_gcs_staging(spark, tmp_path):
    """W>1: a crash between two publishes of one wave leaves the wave's
    unpublished buckets in a staging dir beside data-<id>.  It is never
    read back; vacuum removes it once its writer is dead, the next
    attempt removes its own leftover, and the resume matches an
    uninterrupted run."""
    n, slots = 6, spark.sparkContext.defaultParallelism
    pages = pages_from_fixtures(spark, 60, partitions=2 * slots)
    assert _wave_width(n, slots, pages.rdd.getNumPartitions()) == 3
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    cat.write_snapshot_bucketed(pages, "ref", "s1", n_buckets=n, transform=_project)
    ref = cat.read_snapshot(spark, "ref").orderBy("url").toPandas()

    # waves [0,1,2] [3,4,5]; dies after publishing bucket 3
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write_snapshot_bucketed(pages, "out", "s1", n_buckets=n,
                                    transform=_project, fail_after_bucket=3)
    assert _markers(cat, "out", "s1") == [f"bucket-{b}.done" for b in range(4)]
    data = cat._data_dir("out", "s1")
    (stage,) = _staging_dirs(cat, "out")
    assert os.path.dirname(stage) == os.path.dirname(data)
    assert sorted(d for d in os.listdir(stage) if not d.startswith(".")) == [
        "_SUCCESS", "bucket=4", "bucket=5"]
    assert sorted(d for d in os.listdir(data)) == [f"bucket={b}" for b in range(4)]
    with pytest.raises(FileNotFoundError):
        cat.read_snapshot(spark, "out")

    # the writer is still this process: vacuum leaves the dir alone ...
    owner = os.path.join(os.path.dirname(stage),
                         f"_{os.path.basename(stage)}.writer.json")
    assert os.path.exists(owner)
    assert cat.vacuum("out") == []
    # ... and removes it once the writer is dead
    with open(owner, "w") as fh:
        json.dump({"pid": 999999999}, fh)
    assert stage in cat.vacuum("out")
    assert _staging_dirs(cat, "out") == [] and not os.path.exists(owner)

    # a second crash leaves a fresh staging dir; the next attempt drops it
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.write_snapshot_bucketed(pages, "out", "s1", n_buckets=n,
                                    transform=_project, fail_after_bucket=0)
    assert len(_markers(cat, "out", "s1")) == 5
    assert len(_staging_dirs(cat, "out")) == 1
    cat.write_snapshot_bucketed(pages, "out", "s1", n_buckets=n, transform=_project)
    assert _staging_dirs(cat, "out") == []
    assert [f for f in os.listdir(cat._table_dir("out")) if "staging" in f] == []

    got_df = cat.read_snapshot(spark, "out")
    files = {r[0] for r in got_df.select(F.input_file_name()).distinct().collect()}
    assert all("/data-s1/bucket=" in f for f in files)
    got = got_df.orderBy("url").toPandas()
    assert len(got) == len(ref) == 60 and got.url.is_unique
    pd.testing.assert_frame_equal(got, ref)


def test_one_bucket_per_job_when_input_is_wide(spark, tmp_path):
    """W=1 (input already n_buckets x slots partitions): one Spark job
    per bucket, and a crash loses at most the one bucket it computed."""
    n, slots = 4, spark.sparkContext.defaultParallelism
    pages = pages_from_fixtures(spark, 40, partitions=n * slots)
    assert _wave_width(n, slots, pages.rdd.getNumPartitions()) == 1
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    ref = _project(pages).orderBy("url").toPandas()

    def crash():
        with pytest.raises(RuntimeError, match="simulated crash"):
            cat.write_snapshot_bucketed(pages, "t", "s1", n_buckets=n,
                                        transform=_project, fail_after_bucket=1)
    _, jobs = _jobs_in_group(spark, "w1-crash", crash)
    published = len(_markers(cat, "t", "s1"))
    assert published == 2
    # computed but unpublished buckets sit in staging: none for W=1
    staged = [d for s in _staging_dirs(cat, "t") for d in os.listdir(s)
              if d.startswith("bucket=")]
    assert len(staged) <= 1
    assert jobs <= published + 1

    cat.write_snapshot_bucketed(pages, "t", "s1", n_buckets=n, transform=_project)
    got = cat.read_snapshot(spark, "t").orderBy("url").toPandas()
    pd.testing.assert_frame_equal(got, ref)


def test_one_wave_write_runs_at_most_two_jobs(spark, tmp_path):
    """64 buckets over ~200 rows fit one wave: at most 2 Spark jobs
    (the wave, plus one schema-only file if a bucket is empty)."""
    pages = pages_from_fixtures(spark, 200)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    _, jobs = _jobs_in_group(
        spark, "one-wave",
        lambda: cat.write_snapshot_bucketed(pages, "t", "s1", n_buckets=64,
                                            transform=_project))
    assert 1 <= jobs <= 2
    assert cat.read_snapshot(spark, "t").count() == 200
    data = cat.latest_snapshot("t")["data_dir"]
    assert len(os.listdir(data)) == 64


def test_narrow_input_spreads_wave_over_slots(spark, tmp_path):
    """A 1-file input (S = 1 < P) runs its one wave's Python stage on
    min(P, n_buckets) tasks; each bucket still lands in one task (one
    data file per bucket=K) and the rows match a W = 1 write."""
    n, slots = 8, spark.sparkContext.defaultParallelism
    src = str(tmp_path / "pages")
    pages_from_fixtures(spark, 80, partitions=1).write.parquet(src)
    pages = spark.read.parquet(src)
    assert pages.rdd.getNumPartitions() == 1
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    _jobs_in_group(spark, "spread", lambda: cat.write_snapshot_bucketed(
        pages, "t", "s1", n_buckets=n, transform=_py_project))
    st = spark.sparkContext.statusTracker()
    stage_tasks = [st.getStageInfo(s).numTasks
                   for j in st.getJobIdsForGroup("spread")
                   for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
    assert max(stage_tasks) >= min(slots, n)

    data = cat.latest_snapshot("t")["data_dir"]
    for b in range(n):
        files = [f for f in os.listdir(os.path.join(data, f"bucket={b}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    placed = (spark.read.option("basePath", data).parquet(data)
              .select("bucket", F.pmod(F.xxhash64("url"), F.lit(n)).alias("want"))
              .toPandas())
    assert len(placed) == 80 and (placed.bucket == placed.want).all()

    wide = pages.repartition(n * slots)
    assert _wave_width(n, slots, wide.rdd.getNumPartitions()) == 1
    cat.write_snapshot_bucketed(wide, "ref", "s1", n_buckets=n,
                                transform=_py_project)
    got = cat.read_snapshot(spark, "t").orderBy("url").toPandas()
    ref = cat.read_snapshot(spark, "ref").orderBy("url").toPandas()
    pd.testing.assert_frame_equal(got, ref)
