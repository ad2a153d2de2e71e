"""End-to-end smoke of the spark-submit job entry (jobs/extract.py),
against the committed golden corpus."""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))


def _stage_pages(path, rows) -> str:
    """Write fixture rows as a pages-schema parquet; one staging recipe
    for every CLI test in this module."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    pdf = pd.DataFrame(rows, columns=schema.names)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), str(path))
    return str(path)


COUNT_FIELDS = ("pages_processed", "pages_ok", "pages_failed", "total_blocks",
                "total_blocks_kept", "total_entities", "total_matches")


def _stats_line(capsys) -> dict:
    import json
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_job_main_end_to_end(spark, t2_rows, tmp_path, capsys):
    import extract as job

    pages_path = _stage_pages(tmp_path / "pages.parquet", t2_rows[:80])
    wh = str(tmp_path / "wh")
    rc = job.main(["--pages", pages_path, "--warehouse", wh,
                   "--snapshot-id", "r1", "--buckets", "3"])
    assert rc == 0
    stats = _stats_line(capsys)
    for k in COUNT_FIELDS:
        assert type(stats[k]) is int, (k, stats[k])
    assert stats["pages_processed"] == 80 and stats["pages_failed"] == 0

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    cat = SnapshotCatalog(wh)
    for table in ("enriched", "extracted", "metrics", "lineage"):
        assert cat.is_committed(table, "r1"), table

    extracted = cat.read_snapshot(spark, "extracted", "r1").orderBy("url").toPandas()
    assert len(extracted) == 80 and extracted.url.is_unique
    golden = pd.read_parquet(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "golden", "extracted.parquet"))
    golden = golden[golden.url.isin(extracted.url)].sort_values("url").reset_index(drop=True)
    assert (extracted.extracted_text.values == golden.extracted_text.values).all()

    lineage = cat.read_snapshot(spark, "lineage", "r1").toPandas()
    assert lineage.n_rows.sum() == 80 and lineage.n_err.sum() == 0


def test_job_main_empty_pages(spark, tmp_path, capsys):
    """An empty pages input commits readable, empty tables and reports
    zero counts (the NULL sums of an empty input print as 0)."""
    import extract as job

    pages_path = _stage_pages(tmp_path / "pages.parquet", [])
    wh = str(tmp_path / "wh")
    assert job.main(["--pages", pages_path, "--warehouse", wh,
                     "--snapshot-id", "e1", "--buckets", "4"]) == 0
    stats = _stats_line(capsys)
    assert {k: stats[k] for k in COUNT_FIELDS} == dict.fromkeys(COUNT_FIELDS, 0)

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    cat = SnapshotCatalog(wh)
    for table in ("enriched", "extracted", "metrics", "lineage"):
        assert cat.read_snapshot(spark, table, "e1").count() == 0, table


def test_stream_job_incremental_end_to_end(spark, t2_rows, tmp_path):
    """jobs/stream.py: AvailableNow increments are exactly-once and
    byte-identical to the golden corpus; second run is a no-op."""
    import stream as job

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()

    def write(rows, name):
        _stage_pages(pages_dir / name, rows)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write(t2_rows[:40], "f0.parquet")
    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt])
    assert rc == 0
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 40 and got.url.is_unique

    # no new files: no re-processing
    job.main(["--pages", str(pages_dir), "--out", out, "--checkpoint", ckpt])
    assert spark.read.parquet(out).count() == 40

    # incremental file: only the new rows, byte-identical to golden
    write(t2_rows[40:60], "f1.parquet")
    job.main(["--pages", str(pages_dir), "--out", out, "--checkpoint", ckpt])
    got = spark.read.parquet(out).orderBy("url").toPandas()
    assert len(got) == 60 and got.url.is_unique
    golden = pd.read_parquet(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "golden", "extracted.parquet"))
    golden = golden[golden.url.isin(got.url)].sort_values("url").reset_index(drop=True)
    assert (got.extracted_text.values == golden.extracted_text.values).all()


def test_missing_pages_path_fails_cleanly():
    """A bad --pages path must exit with a one-line argparse error, not
    a Java FileNotFoundException stack trace."""
    import extract as job
    import stream as sjob
    import pytest
    with pytest.raises(SystemExit):
        job.main(["--pages", "/nonexistent/p", "--warehouse", "/tmp/w",
                  "--snapshot-id", "s"])
    with pytest.raises(SystemExit):
        sjob.main(["--pages", "/nonexistent/p", "--out", "/tmp/o",
                   "--checkpoint", "/tmp/c"])


def test_uri_and_glob_pages_paths_pass_validation():
    """Review regression: hdfs://, s3a:// and glob --pages values are
    valid Spark inputs and must not be rejected by the driver-local
    existence check (they fail later, inside Spark, if truly absent)."""
    from ukrainian_ocr_pipeline_spark.sources.pages import is_checkable_local_path
    for p in ("hdfs://nn/pages", "s3a://bucket/pages",
              "/data/pages/part-*.parquet", "/data/pages/f[0-9].parquet"):
        assert not is_checkable_local_path(p), p
    assert is_checkable_local_path("/data/pages")


def test_wet_export_roundtrips_extracted_text(spark, t2_rows, tmp_path):
    """--wet commits one WARC/1.0 conversion record per page; parsing
    every record back with the INGESTION parser yields the exact
    extracted text — export and ingest are inverses."""
    import extract as job

    pages_path = _stage_pages(tmp_path / "pages.parquet", t2_rows[:40])
    wh = str(tmp_path / "wh")
    rc = job.main(["--pages", pages_path, "--warehouse", wh,
                   "--snapshot-id", "w1", "--wet"])
    assert rc == 0

    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources import warc as w
    cat = SnapshotCatalog(wh)
    want = {r.url: (r.extracted_text, r.warc_ts)
            for r in cat.read_snapshot(spark, "extracted", "w1").collect()}
    wet = cat.read_snapshot(spark, "wet", "w1").collect()
    assert len(wet) == len(want) == 40
    for row in wet:
        recs = list(w.iter_warc_records(bytes(row.wet_record)))
        assert len(recs) == 1
        rec = recs[0]
        assert rec["warc_type"] == "conversion"
        assert rec["url"] == row.url
        assert rec["payload"].decode("utf-8") == want[row.url][0]
        # WARC-Date threads the fetch timestamp
        assert rec["date"] == want[row.url][1] \
            .strftime("%Y-%m-%dT%H:%M:%SZ")
    # idempotent: re-run commits nothing new
    assert job.main(["--pages", pages_path, "--warehouse", wh,
                     "--snapshot-id", "w1", "--wet"]) == 0
    assert len(os.listdir(os.path.join(wh, "wet", "snapshots"))) == 1


def test_stream_job_rejects_dedup_flag_flip(spark, t2_rows, tmp_path, capsys):
    """The dedup-watermark choice is per-checkpoint-lifetime: flipping
    it on an existing checkpoint would fail every later run with
    CANNOT_LOAD_STATE_STORE — the job must reject the flip loudly."""
    import stream as job

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    _stage_pages(pages_dir / "f0.parquet", t2_rows[:10])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert job.main(["--pages", str(pages_dir), "--out", out,
                     "--checkpoint", ckpt]) == 0
    capsys.readouterr()
    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt, "--dedup-watermark", "1 hour"])
    assert rc == 2
    assert "dedup-watermark choice differs" in capsys.readouterr().err


def test_stream_job_sees_nested_page_files(spark, t2_rows, tmp_path):
    """Files nested under catalog-style subdirs (attempt-<id>/) must be
    visible to the stream — without recursiveFileLookup the run
    completed with {'batches': 0} and looked like 'no new data'."""
    import stream as job

    pages_dir = tmp_path / "pages"
    (pages_dir / "attempt-abc123").mkdir(parents=True)
    _stage_pages(pages_dir / "attempt-abc123" / "f0.parquet", t2_rows[:15])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert job.main(["--pages", str(pages_dir), "--out", out,
                     "--checkpoint", ckpt]) == 0
    assert spark.read.parquet(out).count() == 15


def test_stream_job_neardup_verdict_mode(spark, tmp_path, capsys):
    """jobs/stream.py --neardup-watermark: verdict mode emits the
    novelty table (near-dup suppressed after a flush batch advances the
    watermark), re-runs are exactly-once no-ops, and flipping the mode
    on an existing checkpoint is rejected with rc 2."""
    import datetime
    import json as _json

    import stream as job

    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)
    base = "the quick brown fox jumps over the lazy sleeping dog tonight"
    near = "the quick brown fox jumps over the lazy sleeping cat tonight"

    def row(url, minutes, text):
        # validate_pages requires an https?:// url shape
        return {"url": f"https://ex.org/{url}",
                "warc_ts": t0 + datetime.timedelta(minutes=minutes),
                "html": f"<p>{text}</p>".encode(), "text": text, "lang": "en"}

    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _stage_pages(pages_dir / "f0.parquet", [row("u1", 0, base)])

    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt, "--neardup-watermark", "10 minutes"])
    assert rc == 0
    _stage_pages(pages_dir / "f1.parquet",
                 [row("u2-near", 2, near),
                  row("u3", 3, "completely different subject matter here")])
    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt, "--neardup-watermark", "10 minutes"])
    assert rc == 0
    # append-mode emission lags one batch: the watermark advances only
    # AFTER the batch carrying the late row commits, so closed windows
    # flush in the NEXT batch — two advancer files, two runs
    for name, minutes in (("f2", 240), ("f3", 480)):
        _stage_pages(pages_dir / f"{name}.parquet",
                     [row(f"u-{name}-flush", minutes,
                          "late watermark advancer row")])
        rc = job.main(["--pages", str(pages_dir), "--out", out,
                       "--checkpoint", ckpt,
                       "--neardup-watermark", "10 minutes"])
        assert rc == 0
    capsys.readouterr()

    import glob
    files = glob.glob(os.path.join(out, "batch_id=*", "*.parquet"))
    got = pd.concat(pd.read_parquet(f) for f in files)
    assert set(got.columns) == {"url", "window_start", "simhash"}
    urls = {u.rsplit("/", 1)[-1] for u in got.url}
    assert "u1" in urls and "u3" in urls
    assert "u2-near" not in urls

    # exactly-once: an empty re-run emits no batches/rows
    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt, "--neardup-watermark", "10 minutes"])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"batches": 0, "novel_rows": 0}

    # mode flip on a committed checkpoint -> rc 2, loud
    rc = job.main(["--pages", str(pages_dir), "--out", out,
                   "--checkpoint", ckpt])
    assert rc == 2
    assert "differs" in capsys.readouterr().err

    # both modes at once -> parse-time error
    import pytest
    with pytest.raises(SystemExit) as exc:
        job.main(["--pages", str(pages_dir), "--out", out,
                  "--checkpoint", ckpt, "--neardup-watermark", "1 hour",
                  "--dedup-watermark", "1 hour"])
    assert exc.value.code == 2
