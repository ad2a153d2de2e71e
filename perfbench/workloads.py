"""The bench's workloads: seeded inputs, one unit of work, and the
correctness gate for each.

A unit is what a user runs once: one `jobs/extract.py` job, one
`jobs/stream.py` AvailableNow increment, one `jobs/curate.py` job.  The
bench runs units in a closed loop (the next starts when the last one
ends) from one process, and calls each job's `main()` in-process so it
reuses the bench's host-sized session.  Everything a unit needs is made
before its clock starts; everything its output is checked against is
made from the seed.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ukrainian_ocr_pipeline_spark.fixtures import page_row
from ukrainian_ocr_pipeline_spark.oracle import run_oracle
from ukrainian_ocr_pipeline_spark.sources.catalog import SnapshotCatalog

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# a copy of the synthetic sf0.1 `documents` table (5,000 rows) the
# repo's curation tests and registry queries are written against
DOCUMENTS = os.path.join(BENCH_DIR, "data", "documents.parquet")

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def load_job(name: str):
    """Import jobs/<name>.py (a script directory, not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"bench_job_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_main(mod, argv: list[str]) -> tuple[float, dict]:
    """Time one `main(argv)`; returns (wall_s, its JSON stats line)."""
    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = mod.main(argv)
    wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"{mod.__name__} {argv} exited {rc}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return wall, json.loads(lines[-1])


def write_pages(path: str, rows: list[dict]) -> None:
    table = pa.Table.from_pylist(
        [{**r, "warc_ts": r["warc_ts"].replace(tzinfo=None)} for r in rows],
        schema=PAGES_SCHEMA)
    pq.write_table(table, path)


def oracle_texts(rows: list[dict]) -> dict[str, str]:
    ext = run_oracle(rows)["extracted"]
    return dict(zip(ext["url"], ext["extracted_text"]))


def read_columns(path: str, columns: list[str]) -> pa.Table:
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True)
             if not os.path.basename(f).startswith(("_", "."))]
    return ds.dataset(files, format="parquet").to_table(columns=columns)


def snapshot_dir(warehouse: str, table: str, snapshot_id: str) -> str:
    for m in SnapshotCatalog(warehouse).snapshots(table):
        if m["snapshot_id"] == snapshot_id:
            return m["data_dir"]
    raise FileNotFoundError(f"{table}/{snapshot_id} not committed")


def text_failures(expected: dict[str, str], got: pa.Table) -> int:
    """Pages missing from the output, duplicated in it, or whose
    extracted_text is not byte-identical to the oracle's."""
    seen: dict[str, str] = {}
    dup = 0
    for url, text in zip(got.column("url").to_pylist(),
                         got.column("extracted_text").to_pylist()):
        dup += url in seen
        seen[url] = text
    bad = sum(1 for url, text in expected.items() if seen.get(url) != text)
    return bad + dup + len(set(seen) - set(expected))


class Workload:
    name = ""
    warm_min = 2          # warm-up units at least
    warm_max = 4          # warm-up units at most
    input_dir = ""        # scanned input, for scan.read_amp

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.k = 0
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0
        self.batches = 0      # streaming micro-batches run
        self.unit_pages: list[list[dict]] = []  # each unit's input pages

    def prepare(self) -> None:
        raise NotImplementedError

    def unit(self, light: bool = False) -> tuple[float, int]:
        """Run one unit and gate its output; returns (wall_s, docs).
        A light unit runs the same code paths at less cost, to warm a
        new session in a warm JVM; the warm-up and timed units are full."""
        raise NotImplementedError

    def finish(self) -> None:
        """Gate output that only exists once every unit has run."""

    def expected(self) -> dict[str, str]:
        """url -> the oracle's extracted_text, for the pages seen."""
        return {}


class ExtractJob(Workload):
    """jobs/extract.py with the default JobConfig (arrow mode, matches
    and regions on, 64 resume buckets) over a seeded mixed corpus."""
    name = "extract_job"
    # set by the run budget, not by a production size: README.md,
    # "extract_job input size", gives the arithmetic
    pages = 1000
    # one full 64-bucket job before timing: the timed job is the second
    # of its kind in the JVM, not yet a steady one (README.md, "extract_job
    # is not warmed to steady")
    warm_min = warm_max = 1

    def prepare(self):
        self.rows = [page_row(i, self.seed) for i in range(self.pages)]
        self.input_dir = os.path.join(self.work, "pages")
        os.makedirs(self.input_dir)
        write_pages(os.path.join(self.input_dir, "pages.parquet"), self.rows)
        self.oracle = oracle_texts(self.rows)
        self.job = load_job("extract")

    def unit(self, light=False):
        self.k += 1
        wh = os.path.join(self.work, f"wh-{self.k}")
        sid = f"bench-{self.k}"
        argv = ["--pages", self.input_dir, "--warehouse", wh,
                "--snapshot-id", sid]
        if light:
            # the same scan, UDF, write and commit paths at an eighth of
            # the bucket loop's cost
            argv += ["--buckets", "8"]
        self.attempted += self.pages
        try:
            wall, stats = run_main(self.job, argv)
            got = read_columns(snapshot_dir(wh, "extracted", sid),
                               ["url", "extracted_text"])
            ok = read_columns(snapshot_dir(wh, "metrics", sid), ["success"])
            self.failed += (text_failures(self.oracle, got)
                            + ok.column("success").to_pylist().count(False))
        except Exception:
            self.failed += self.pages
            raise
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        self.input_rows += self.pages
        self.unit_pages.append(self.rows)
        return wall, self.pages

    def expected(self):
        return self.oracle


class ExtractStream(Workload):
    """Repeated jobs/stream.py AvailableNow increments on one
    checkpoint; one seeded parquet file lands before each."""
    name = "extract_stream"
    pages = 250
    # increments are cheap and keep speeding up for several more after
    # the first two agree (JIT of the per-batch planning path)
    warm_min = 6
    warm_max = 10

    def prepare(self):
        self.input_dir = os.path.join(self.work, "incoming")
        self.out = os.path.join(self.work, "out")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.input_dir)
        os.makedirs(os.path.join(self.work, "landing"))
        self.oracle: dict[str, str] = {}
        self.job = load_job("stream")

    def land(self) -> None:
        lo = self.k * self.pages
        rows = [page_row(i, self.seed) for i in range(lo, lo + self.pages)]
        staged = os.path.join(self.work, "landing", f"f{self.k:05d}.parquet")
        write_pages(staged, rows)
        # rename is atomic: the stream never lists a half-written file
        os.rename(staged, os.path.join(self.input_dir,
                                       os.path.basename(staged)))
        self.unit_pages.append(rows)
        self.oracle.update(oracle_texts(rows))

    def unit(self, light=False):
        self.land()
        self.k += 1
        self.attempted += self.pages
        try:
            wall, stats = run_main(self.job, [
                "--pages", self.input_dir, "--out", self.out,
                "--checkpoint", self.ckpt])
        except Exception:
            self.failed += self.pages
            raise
        self.batches += stats["batches"]
        self.input_rows += self.pages
        return wall, self.pages

    def finish(self) -> None:
        """Gate the whole sink once: every landed url exactly once,
        byte-identical to the oracle."""
        self.failed += text_failures(
            self.oracle, read_columns(self.out, ["url", "extracted_text"]))

    def expected(self):
        return self.oracle


class Curate(Workload):
    """jobs/curate.py with its defaults over the documents table, rows
    permuted by the seed."""
    name = "curate"
    warm_max = 4

    def prepare(self):
        table = pq.read_table(DOCUMENTS)
        order = list(range(table.num_rows))
        random.Random(self.seed).shuffle(order)
        self.input_dir = os.path.join(self.work, "docs")
        os.makedirs(self.input_dir)
        self.docs = os.path.join(self.input_dir, "documents.parquet")
        pq.write_table(table.take(order), self.docs)
        self.n_docs = table.num_rows
        self.reference = None
        self.job = load_job("curate")

    def unit(self, light=False):
        self.k += 1
        wh = os.path.join(self.work, f"wh-{self.k}")
        sid = f"bench-{self.k}"
        self.attempted += self.n_docs
        try:
            wall, stats = run_main(self.job, [
                "--docs", self.docs, "--warehouse", wh, "--snapshot-id", sid])
            result = (curated_digest(snapshot_dir(wh, "curated", sid)),
                      json.dumps(stats, sort_keys=True))
        except Exception:
            self.failed += self.n_docs
            raise
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        drops = sum(v for k, v in stats.items() if k.startswith("dropped_"))
        self.reference = self.reference or result
        if (result != self.reference or stats["docs_in"] != self.n_docs
                or drops + stats["docs_out"] != self.n_docs):
            self.failed += self.n_docs
        self.input_rows += self.n_docs
        return wall, self.n_docs


def curated_digest(path: str) -> str:
    """Order-free digest of the curated table: rows sorted by doc_id."""
    t = read_columns(path, ["doc_id", "text", "lang", "source", "n_chars",
                            "split"]).sort_by("doc_id")
    h = hashlib.sha256()
    for row in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        h.update(repr(row).encode("utf-8"))
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (ExtractJob, ExtractStream, Curate)}
