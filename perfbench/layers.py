"""Per-layer probes used by the traced run.

Spans are recorded here, around calls into each layer's public
functions; the program itself carries no tracing.  A span also sets the
Spark job description, so the event-log summarizer can attribute the
Spark jobs a call started to the layer that started them.
"""

from __future__ import annotations

import contextlib
import time

from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog
from ukrainian_ocr_pipeline_spark.spec import (
    LexiconMatcher, classify_blocks, decode_page, default_lexicon,
    dense_regions, render_text, segment_blocks, tag_entities,
)
from ukrainian_ocr_pipeline_spark.spec.ner import attach_block_ids


def now_ms() -> int:
    return int(time.time() * 1000)


class Tracer:
    """Keeps spans (label, start_ms, end_ms) in memory; `spans` is read
    once the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, int, int]] = []
        self.calls: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def span(self, label: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(label)
        t0, p0 = now_ms(), time.perf_counter()
        try:
            yield
        finally:
            self.calls.setdefault(label, []).append(time.perf_counter() - p0)
            self.spans.append((label, t0, now_ms()))
            self.sc.setJobDescription(prev)


CATALOG_CALLS = ("write_snapshot", "write_snapshot_bucketed", "read_snapshot")


@contextlib.contextmanager
def traced_catalog(tracer: Tracer):
    """Wrap the SnapshotCatalog entry points the jobs call, labelled
    `catalog.<method>:<table>`; restored on exit."""
    saved = {name: getattr(SnapshotCatalog, name) for name in CATALOG_CALLS}

    def wrap(name, fn):
        def wrapper(self, *args, **kwargs):
            table = kwargs.get("table", args[1] if len(args) > 1 else "")
            with tracer.span(f"catalog.{name}:{table}"):
                return fn(self, *args, **kwargs)
        return wrapper

    for name, fn in saved.items():
        setattr(SnapshotCatalog, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(SnapshotCatalog, name, fn)


SPEC_STAGES = ("decode", "segment", "classify", "render", "ner", "match",
               "regions")


def replay_spec(rows, expected: dict) -> dict:
    """Replay `spec.extract_page`'s composition single-threaded, timing
    each stage call by call.  `expected` maps url -> the oracle's
    extracted_text; a url whose replayed text differs counts in
    `mismatches`, so the timings are known to be of the same program.
    """
    matcher = LexiconMatcher(default_lexicon())
    secs = dict.fromkeys(SPEC_STAGES, 0.0)
    counts = {"pages": 0, "blocks": 0, "blocks_kept": 0, "spans": 0,
              "matches": 0, "fallback_pages": 0, "errors": 0,
              "mismatches": 0}
    clock = time.perf_counter
    for row in rows:
        counts["pages"] += 1
        try:
            t0 = clock()
            dec = decode_page(row["html"])
            t1 = clock()
            blocks, fallback = segment_blocks(dec.text, dec.kind)
            t2 = clock()
            classify_blocks(blocks)
            t3 = clock()
            text, kept = render_text(blocks)
            t4 = clock()
            spans = attach_block_ids(tag_entities(text), kept, text)
            t5 = clock()
            matches = matcher.find_in_text(text) if text else []
            t6 = clock()
            dense_regions(spans, len(text))
            t7 = clock()
        except Exception:  # extract_page's per-row error capture
            counts["errors"] += 1
            text = ""
        else:
            for stage, a, b in zip(SPEC_STAGES, (t0, t1, t2, t3, t4, t5, t6),
                                   (t1, t2, t3, t4, t5, t6, t7)):
                secs[stage] += b - a
            counts["blocks"] += len(blocks)
            counts["blocks_kept"] += sum(1 for b in blocks if b.is_content)
            counts["spans"] += len(spans)
            counts["matches"] += len(matches)
            counts["fallback_pages"] += fallback > 0
        if expected.get(row["url"]) != text:
            counts["mismatches"] += 1
    return {"secs": secs, "counts": counts}
