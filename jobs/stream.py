"""spark-submit entry point for INCREMENTAL extraction (streaming twin
of jobs/extract.py).

    spark-submit --py-files engine.zip jobs/stream.py \
        --pages /path/to/pages/dir --out /path/to/out \
        --checkpoint /path/to/ckpt [--dedup-watermark "1 hour"] \
        [--config job.yaml]

Each invocation runs ONE Trigger.AvailableNow increment: every page
file not yet recorded in the checkpoint is extracted exactly once
(crash-safe via checkpointed source offsets + idempotent per-batch
sink).  Re-run on a schedule, this is the resumable ingest loop the
north rule's checkpoint-resume criterion describes, on Structured
Streaming's native offset tracking.

--neardup-watermark switches the job to VERDICT mode: it emits the
SimHash-band novelty table (url, window_start, simhash) instead of
extracting — the composable near-dup shape where suppression is a later
batch join against the verdicts (streaming/dedup.neardup_stream).

--dedup-watermark enables in-stream exact dedup keyed on the html
digest — NOTE it weakens the exactly-once-per-page contract for LATE
data: the horizon is also a late-arrival cutoff, so a page whose
warc_ts lags the stream maximum by more than the horizon is dropped
even if unique (see streaming/dedup.py).  Use only for near-monotonic
live crawls; dedup backfills in batch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _make_sink(out_dir, counter):
    """THE idempotent per-batch sink both modes share: overwrite by
    batch_id (re-delivered batches rewrite, never duplicate), and count
    the rows the write itself passes through a fresh per-batch
    Observation — counting the unpersisted batch would run the whole
    upstream chain a second time, and reading the written files back
    would cost a second Spark job."""
    from pyspark.sql import Observation, functions as F

    def sink(batch_df, batch_id):
        counter["batches"] += 1
        path = os.path.join(out_dir, f"batch_id={batch_id}")
        obs = Observation()
        (batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.mode("overwrite").parquet(path))
        counter["n"] += obs.get["rows"]

    return sink


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="incremental web-text extraction")
    p.add_argument("--config", default=None, help="YAML/JSON job config")
    p.add_argument("--pages", default=None, help="pages parquet DIRECTORY (watched)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    p.add_argument("--dedup-watermark", default=None,
                   help='enable in-stream exact dedup, e.g. "1 hour"')
    p.add_argument("--neardup-watermark", default=None,
                   help='NEAR-dup verdict mode: instead of extracting, '
                        'emit the SimHash-band novelty table (url, '
                        'window_start, simhash) a downstream batch join '
                        'consumes; e.g. "10 minutes"')
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.dedup_watermark and args.neardup_watermark:
        p.error("--dedup-watermark and --neardup-watermark are separate "
                "pipelines (exact suppression inline vs a novelty-verdict "
                "table) — run two jobs with two checkpoints")

    from pyspark.sql import SparkSession

    from ukrainian_ocr_pipeline_spark.config import JobConfig
    from ukrainian_ocr_pipeline_spark.sources.session import get_spark

    cfg = JobConfig.from_file(args.config) if args.config else JobConfig()
    if args.pages is not None:
        cfg.pages = args.pages
    if args.master is not None:
        cfg.master = args.master
    if cfg.pages is None:
        p.error("--pages is required (flag or config file)")

    from ukrainian_ocr_pipeline_spark.sources.pages import is_checkable_local_path
    if is_checkable_local_path(cfg.pages) and not os.path.isdir(cfg.pages):
        # URIs (hdfs://, s3a://) are left for Spark to resolve
        p.error(f"--pages must be an existing directory: {cfg.pages}")

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(app="extract-stream", master=cfg.master)


    from ukrainian_ocr_pipeline_spark.functions.schemas import PAGES_SCHEMA
    from ukrainian_ocr_pipeline_spark.operators.extract import (
        extract_pages, extracted_table,
    )
    from ukrainian_ocr_pipeline_spark.sources.pages import validate_pages
    from ukrainian_ocr_pipeline_spark.streaming.dedup import (
        dedup_stream, neardup_stream,
    )

    # the dedup choice is per-CHECKPOINT-LIFETIME, not per-invocation:
    # flipping it on an existing checkpoint fails every later run with
    # CANNOT_LOAD_STATE_STORE (the stateful operator expects state for
    # committed batches).  Pin the choice with the first run and reject
    # a flip loudly instead of wedging the ingest loop.
    dedup_marker = os.path.join(args.checkpoint, "_dedup_choice.json")
    choice = {"dedup": bool(args.dedup_watermark),
              "neardup": bool(args.neardup_watermark)}
    if os.path.exists(dedup_marker):
        with open(dedup_marker, encoding="utf-8") as fh:
            prev = json.load(fh)
        # markers written before the neardup mode existed lack the key;
        # their checkpoints are by definition non-neardup
        prev.setdefault("neardup", False)
        if prev != choice:
            print(json.dumps({"error": "dedup-watermark choice differs "
                              "from this checkpoint's first run",
                              "checkpoint": prev, "requested": choice},
                             sort_keys=True), file=sys.stderr)
            if existing is None:
                spark.stop()
            return 2
    else:
        os.makedirs(args.checkpoint, exist_ok=True)
        with open(dedup_marker, "w", encoding="utf-8") as fh:
            json.dump(choice, fh)

    # recursiveFileLookup + validate_pages mirror the batch reader:
    # nested catalog attempt-dirs would otherwise be silently invisible
    # (a {"batches": 0} run that looks like 'no new data'), and rows
    # the batch path filters would leak into the streaming output
    stream = (spark.readStream
              .schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .option("recursiveFileLookup", "true")
              .parquet(cfg.pages))
    stream = validate_pages(stream)

    if args.neardup_watermark:
        # verdict mode: the output is the novelty table itself — the
        # composable production shape (suppression happens in a later
        # batch join against these verdicts), keeping THIS job's
        # exactly-once extraction contract untouched.  warc_ts is
        # carried as the dedup event time; text comes from the page
        # text column (extraction runs downstream of the verdict).
        novel = neardup_stream(stream, watermark=args.neardup_watermark)
        counter = {"n": 0, "batches": 0}
        q = (novel.writeStream
             .foreachBatch(_make_sink(args.out, counter))
             .option("checkpointLocation", args.checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        print(json.dumps({"batches": counter["batches"],
                          "novel_rows": counter["n"]}))
        if existing is None:
            spark.stop()
        return 0

    if args.dedup_watermark:
        stream = dedup_stream(stream, watermark=args.dedup_watermark)
    enriched = extract_pages(
        stream,
        lexicon=cfg.matching.load_lexicon(),
        salt_buckets=cfg.extraction.salt_buckets,
        with_matches=cfg.matching.enabled,
        with_regions=cfg.extraction.with_regions,
        mode=cfg.extraction.mode,
        match_threshold=cfg.matching.threshold,
        match_min_length=cfg.matching.min_length,
        ner_backend=cfg.ner.backend if cfg.ner.enabled else "none")
    out_df = extracted_table(enriched)

    n_rows = {"n": 0, "batches": 0}

    q = (out_df.writeStream
         .foreachBatch(_make_sink(args.out, n_rows))
         .option("checkpointLocation", args.checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    print(json.dumps({"batches": n_rows["batches"], "rows": n_rows["n"]}))
    if existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
