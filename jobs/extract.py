"""spark-submit entry point for the extraction job.

    spark-submit --py-files engine.zip jobs/extract.py \
        --pages /path/to/pages/parquet --warehouse /path/to/warehouse \
        --snapshot-id run-001 [--buckets 64] [--no-matches] [--lexicon f.txt]

Mirrors the reference CLI surface (ukrainian_ocr/cli.py:15-141: config
load, input resolution, dispatch, summary) recast for a cluster: the
pages table in, the extracted/metrics/lineage tables out through the
snapshot catalog (atomic commit + bucket-level resume).

Build engine.zip:  cd repo && zip -r engine.zip ukrainian_ocr_pipeline_spark
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="web-text extraction job")
    p.add_argument("--config", default=None,
                   help="YAML/JSON job config (see config.JobConfig); "
                        "explicit CLI flags override config values")
    p.add_argument("--pages", default=None, help="pages parquet path")
    p.add_argument("--warehouse", default=None, help="output catalog root")
    p.add_argument("--snapshot-id", default=None)
    p.add_argument("--buckets", type=int, default=None,
                   help="resume-granularity buckets (0 = single-commit)")
    p.add_argument("--salt-buckets", type=int, default=None,
                   help="pre-UDF repartition width for skew spreading")
    p.add_argument("--mode", default=None, choices=["staged", "packed", "arrow"])
    p.add_argument("--threshold", type=float, default=None,
                   help="fuzzy-match similarity threshold")
    p.add_argument("--no-matches", action="store_true")
    p.add_argument("--wet", action="store_true",
                   help="also commit the 'wet' table: one WARC/1.0"
                        " conversion record per page (WET-style"
                        " archival export of the extracted text);"
                        " CLI-only, no config analog")
    p.add_argument("--lexicon", default=None, help="file of lexicon terms, one per line")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from ukrainian_ocr_pipeline_spark.config import JobConfig

    # config file first, explicit CLI flags override (reference
    # precedence: cli.py:38-52 loads config then applies per-flag
    # overrides); dataclass defaults fill the rest
    cfg = JobConfig.from_file(args.config) if args.config else JobConfig()
    if args.pages is not None:
        cfg.pages = args.pages
    if args.warehouse is not None:
        cfg.warehouse = args.warehouse
    if args.snapshot_id is not None:
        cfg.snapshot_id = args.snapshot_id
    if args.buckets is not None:
        cfg.buckets = args.buckets
    if args.salt_buckets is not None:
        cfg.extraction.salt_buckets = args.salt_buckets
    if args.mode is not None:
        cfg.extraction.mode = args.mode
    if args.threshold is not None:
        cfg.matching.threshold = args.threshold
    if args.no_matches:
        cfg.matching.enabled = False
    if args.lexicon is not None:
        cfg.matching.lexicon_path = args.lexicon
    if args.master is not None:
        cfg.master = args.master
    for req in ("pages", "warehouse", "snapshot_id"):
        if getattr(cfg, req) is None:
            p.error(f"--{req.replace('_', '-')} is required "
                    "(flag or config file)")
    import os

    from ukrainian_ocr_pipeline_spark.sources.pages import is_checkable_local_path
    if is_checkable_local_path(cfg.pages) and not os.path.exists(cfg.pages):
        # fail with a one-line message instead of a Java stack trace;
        # URIs (hdfs://, s3a://) and globs are left for Spark to resolve
        p.error(f"--pages path does not exist: {cfg.pages}")

    from ukrainian_ocr_pipeline_spark.operators.extract import (
        extract_pages, extracted_table, lineage_table, metrics_table, pipeline_stats,
    )
    from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
    from ukrainian_ocr_pipeline_spark.sources.pages import read_pages, validate_pages
    from ukrainian_ocr_pipeline_spark.sources.session import get_spark

    from pyspark.sql import SparkSession
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(app=f"extract-{cfg.snapshot_id}", master=cfg.master)
    lexicon = cfg.matching.load_lexicon()

    pages = validate_pages(read_pages(spark, cfg.pages))
    cat = SnapshotCatalog(cfg.warehouse)

    def transform(df):
        # ONE UDF pass producing every downstream table's columns; the
        # heavy html payload is dropped before the write
        return extract_pages(df, lexicon=lexicon,
                             salt_buckets=cfg.extraction.salt_buckets,
                             with_matches=cfg.matching.enabled,
                             with_regions=cfg.extraction.with_regions,
                             mode=cfg.extraction.mode,
                             match_threshold=cfg.matching.threshold,
                             match_min_length=cfg.matching.min_length,
                             ner_backend=cfg.ner.backend if cfg.ner.enabled else "none",
                             ).drop("html", "text")

    if cfg.buckets > 0:
        cat.write_snapshot_bucketed(pages, "enriched", cfg.snapshot_id,
                                    n_buckets=cfg.buckets, transform=transform)
    else:
        cat.write_snapshot(transform(pages), "enriched", cfg.snapshot_id)

    # extracted / metrics / lineage are cheap projections of the COMMITTED
    # enriched snapshot — no UDF re-execution
    enriched = cat.read_snapshot(spark, "enriched", cfg.snapshot_id)
    cat.write_snapshot(extracted_table(enriched), "extracted", cfg.snapshot_id)
    metrics = metrics_table(enriched).cache()
    cat.write_snapshot(metrics, "metrics", cfg.snapshot_id)
    import hashlib
    # keyed digest, NOT Python's salted hash(): lineage ids must be
    # reproducible across interpreter runs for the same --snapshot-id
    lineage_id = int.from_bytes(
        hashlib.sha256(cfg.snapshot_id.encode("utf-8")).digest()[:4], "big") & 0x7FFFFFFF
    cat.write_snapshot(lineage_table(enriched, snapshot_id=lineage_id),
                       "lineage", cfg.snapshot_id)
    if args.wet:
        from ukrainian_ocr_pipeline_spark.sources.warc import wet_records
        cat.write_snapshot(
            wet_records(cat.read_snapshot(spark, "extracted",
                                          cfg.snapshot_id)),
            "wet", cfg.snapshot_id)

    # a Row keeps each aggregate's own type (counts stay int); a pandas
    # frame would upcast every column holding a NULL to float64
    stats = pipeline_stats(metrics).first().asDict()

    def _plain(v):
        # an empty/fully-filtered input makes the sum/avg aggregates
        # NULL; report 0 so strict stdout consumers get a number
        return 0 if v is None else v

    print(json.dumps({k: _plain(v) for k, v in stats.items()}))
    if existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
