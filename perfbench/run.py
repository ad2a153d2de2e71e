"""Benchmark of the engine's real jobs.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):
  extract_job     jobs/extract.py main(), default JobConfig
  extract_stream  jobs/stream.py main(), one AvailableNow increment at a time
  curate          jobs/curate.py main(), default flags

Every input is made from --seed.  Each run starts one host-sized Spark
session (local[nproc], driver memory from MemTotal), warms the workload
with full units until two consecutive ones agree or a per-workload cap
is reached (extract_job: one job), then runs timed units in a
closed loop until --seconds of unit wall time are measured.  Every unit's
output is checked against the sequential oracle (extract workloads) or
against the run's first curate result (curate).

--trace 0 prints the end-to-end metrics; --trace 1 runs the timed units
in a second, traced session (event log on, catalog calls wrapped) and
then as many again in a third, untraced one, and prints the per-layer
metrics, the spec replay and the tracing overhead (traced median unit
wall minus the untraced one of the third session).  The last stdout
line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Human-readable lines, the host facts and the warm-up walls come before it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WARM_STEADY = 0.10   # warm-up ends when two consecutive units differ less


def process_age_s() -> float:
    """Seconds since this process started.  Both readings count from
    boot, so the whole-second boot time of /proc/stat is not needed."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus everything it started
    (Spark's driver JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self.halt.wait(0.2):
            self.peak = max(self.peak, rss_mb({me} | descendants(me)))

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak


def start_session(work: str, event_dir: str | None = None):
    from ukrainian_ocr_pipeline_spark.sources.session import get_spark
    from perfbench.host import nproc, session_conf
    return get_spark(app="perfbench", master=f"local[{nproc()}]",
                     extra=session_conf(work, event_dir))


def trivial_python_job(spark) -> None:
    from pyspark.sql import functions as F
    plus_one = F.udf(lambda x: x + 1, "long")
    spark.range(1, numPartitions=1).select(plus_one("id")).collect()


def running(pids: set[int]) -> set[int]:
    """The pids that still exist and are not zombies."""
    alive = set()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                    alive.add(pid)
        except OSError:
            pass
    return alive


def wait_ended(pids: set[int], timeout: float) -> set[int]:
    deadline = time.time() + timeout
    while (pids := running(pids)) and time.time() < deadline:
        time.sleep(0.1)
    return pids


def stop_jvm(gateway) -> None:
    """Shut down Spark's driver JVM of a stopped session and every process
    under it, and wait until each has ended."""
    from pyspark import SparkContext
    started = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in wait_ended(started, 20):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    wait_ended(started, 10)


def warm_up(wl) -> list[float]:
    """Warm-up units until two consecutive ones differ by less than
    WARM_STEADY (after at least `warm_min`), or `warm_max` of them."""
    walls = []
    while len(walls) < wl.warm_max:
        walls.append(wl.unit()[0])
        if (len(walls) >= max(2, wl.warm_min)
                and abs(walls[-1] - walls[-2]) < WARM_STEADY * walls[-2]):
            break
    return walls


def timed_units(wl, seconds: float, min_units: int = 1, span=None):
    walls, docs = [], 0
    while sum(walls) < seconds or len(walls) < min_units:
        if span is None:
            wall, n = wl.unit()
        else:
            with span():
                wall, n = wl.unit()
        walls.append(wall)
        docs += n
    return walls, docs


def tail(walls: list[float]) -> tuple[float, int]:
    """The highest order statistic with at least 10 samples above it,
    and its percentile; the median (p50) when that would be lower."""
    n = len(walls)
    k = n - 11
    if k < 0 or (k + 1) / n < 0.5:
        return statistics.median(walls), 50
    return sorted(walls)[k], int(100 * (k + 1) / n)


def untraced_phase(wl, work: str, n_units: int) -> list[float]:
    """The traced phase's untraced twin: a new session in the same JVM,
    one light warm-up unit, `n_units` timed units."""
    spark = start_session(work)
    wl.unit(light=True)
    walls, _ = timed_units(wl, 0, min_units=n_units)
    spark.stop()
    return walls


def traced_phase(wl, work: str, seconds: float):
    """The timed loop in a new session (same JVM, so JIT state carries
    over) with the event log on and the catalog wrapped, after one light
    warm-up unit.  Returns (per-layer metrics, walls, docs, detail); the
    session is stopped on return, which also closes the event log."""
    from perfbench import eventlog
    from perfbench.host import nproc
    from perfbench.layers import Tracer, replay_spec, traced_catalog

    event_dir = os.path.join(work, "eventlog")
    spark = start_session(work, event_dir)
    tracer = Tracer(spark)
    with tracer.span("warmup"):
        wl.unit(light=True)
    label = {"extract_stream": "stream.increment"}.get(wl.name, "job")
    batches0 = wl.batches
    rows0 = wl.input_rows
    with traced_catalog(tracer):
        walls, docs = timed_units(wl, seconds,
                                  span=lambda: tracer.span(label))
    input_rows = wl.input_rows - rows0
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log = os.path.join(event_dir, app_id)
    summary = eventlog.summarize(log, tracer.spans)
    allg = eventlog.total(summary, exclude=("warmup",))
    cat = eventlog.total(summary, "catalog.")
    cat_write = eventlog.total(summary, "catalog.write_snapshot")
    calls = tracer.calls
    n = len(walls)

    def call_s(prefix):
        return sum(sum(v) for k, v in calls.items() if k.startswith(prefix))

    inputs = {loc: rows for loc, rows in allg["scan_rows"].items()
              if wl.input_dir in loc}
    rows_read = sum(inputs.values())
    scan_ms = sum(ms for loc, ms in allg["scan_ms"].items()
                  if wl.input_dir in loc)
    write_s = call_s("catalog.write_snapshot")
    py = allg["py"]
    py_total = py["start_ms"] + py["init_ms"] + py["run_ms"]

    # the spec replay covers the pages of the traced timed units, and
    # like every other per-layer figure is reported per unit
    replay = replay_spec([r for rows in wl.unit_pages[-n:] for r in rows],
                         wl.expected())
    wl.failed += replay["counts"]["mismatches"]
    sc = {k: v / n for k, v in replay["secs"].items()}
    rc = {k: v / n for k, v in replay["counts"].items()}

    m = {
        "scan.rows_read": rows_read / n,
        "scan.read_amp": rows_read / max(1, input_rows),
        "scan.time_ms": scan_ms / n,
        "catalog.spark_jobs": cat["jobs"] / n,
        "catalog.write_s": write_s / n,
        "catalog.commit_s": max(0.0, write_s - cat_write["job_ms"] / 1000) / n,
        "catalog.read_s": call_s("catalog.read_snapshot") / n,
        "py.start_ms": py["start_ms"] / n,
        "py.init_ms": py["init_ms"] / n,
        "py.run_ms": py["run_ms"] / n,
        "py.init_share": py["init_ms"] / py_total if py_total else 0.0,
        "py.bytes_in": py["bytes_in"] / n,
        "py.bytes_out": py["bytes_out"] / n,
        "py.rows": py["rows"] / n,
        **{f"spec.{k}_s": v for k, v in sc.items()},
        "spec.blocks": rc["blocks"],
        "spec.blocks_kept": rc["blocks_kept"],
        "spec.keep_ratio": rc["blocks_kept"] / rc["blocks"] if rc["blocks"] else 0.0,
        "spec.spans": rc["spans"],
        "spec.matches": rc["matches"],
        "spec.fallback_pages": rc["fallback_pages"],
        "op.run_ms": allg["job_ms"] / n,
        "shuffle.write_bytes": allg["shuffle_write_bytes"] / n,
        "shuffle.read_bytes": allg["shuffle_read_bytes"] / n,
        "spill.bytes": allg["spill_bytes"] / n,
        "spark.stages": allg["stages"] / n,
        "spark.tasks": allg["tasks"] / n,
        "stream.batches": (wl.batches - batches0) / n,
        "stream.spark_jobs": (summary.get("stream.increment", {})
                              .get("jobs", 0)) / n,
        "task.skew": allg["task_skew"],
        "exec.cpu_util": allg["cpu_ns"] / 1e9 / (sum(walls) * nproc()),
        "exec.gc_ms": allg["gc_ms"] / n,
    }
    detail = {"groups": {g: {k: v for k, v in s.items()
                             if k not in ("scan_rows", "scan_ms")}
                         for g, s in summary.items()},
              "scanned_input_rows": inputs,
              "spec_replay": replay,
              "failed_jobs": allg["failed_jobs"]}
    return m, walls, docs, detail


def declared_metrics(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(args) -> int:
    try:
        import ukrainian_ocr_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.host import host_facts
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers are forked by the JVM: they find the engine and
    # keep their temp files in the work dir through the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    try:
        return measure(args, work, WORKLOADS[args.workload],
                       host_facts())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))


def measure(args, work, wl_cls, host) -> int:
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    spark = start_session(work)
    session_start = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    trivial_python_job(spark)
    setup_s = process_age_s()
    sampler = RssSampler()
    sampler.start()
    wl = wl_cls(os.path.join(work, "inputs"), args.seed)
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        warm = warm_up(wl)
        if args.trace:
            spark.stop()
            per_layer, walls, docs, detail = traced_phase(wl, work,
                                                          args.seconds)
            peak = sampler.stop()  # the untraced twin session excluded
            after = untraced_phase(wl, work, len(walls))
        else:
            walls, docs = timed_units(wl, args.seconds)
            peak = sampler.stop()
            spark.stop()
        wl.finish()
    except Exception:
        # a failed run is reported, not hidden: its units already
        # counted their pages as failed
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": max(1, wl.attempted),
                          "failed": max(1, wl.failed), "metrics": {}}))
        return 1
    finally:
        if sampler.is_alive():
            sampler.stop()
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        stop_jvm(gateway)

    wall = statistics.median(walls)
    tail_s, tail_pct = tail(walls)
    end_to_end = {"setup_s": setup_s, "wall_s": wall,
                  "docs_per_s": docs / sum(walls)}
    print(f"# host {json.dumps(host, sort_keys=True)}")
    print(f"# workload {wl.name} seed {args.seed}: prepare {prepare_s:.3f} s,"
          f" warm-up walls {[round(w, 3) for w in warm]},"
          f" timed walls {[round(w, 3) for w in walls]}")
    shown = {**end_to_end,
             "fail_frac": wl.failed / wl.attempted,
             "samples": len(walls),
             f"tail_p{tail_pct}_s": tail_s,
             "peak_rss_mb": peak}
    if wl.name == "extract_stream":
        shown["increment_p50_s"] = wall
        shown["increment_tail_s"] = tail_s
    if args.trace:
        # compared with an untraced twin session in the same JVM, run
        # right after the traced one
        per_layer.update({"session.start_s": session_start,
                          "mem.peak_rss_mb": peak,
                          "trace.overhead_s": wall - statistics.median(after)})
        print(f"# the timed walls above are traced; untraced walls after"
              f" them {[round(w, 3) for w in after]}")
        print(f"# trace detail {json.dumps(detail, sort_keys=True)}")
        shown.update(per_layer)

    kind = "per_layer" if args.trace else "end_to_end"
    declared = declared_metrics(kind)
    values = per_layer if args.trace else end_to_end
    if set(values) != set(declared):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(declared))}")
    units = {**declared_metrics("end_to_end"), **declared_metrics("per_layer"),
             "fail_frac": "1", "samples": "count", "peak_rss_mb": "MB",
             "increment_p50_s": "s", "increment_tail_s": "s",
             f"tail_p{tail_pct}_s": "s"}
    for name, v in shown.items():
        print(f"{name:<24} {v:>16.6g} {units[name]}")
    correct = wl.failed == 0
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": wl.failed,
                      "metrics": {k: {"value": values[k], "unit": declared[k]}
                                  for k in declared}}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["extract_job", "extract_stream", "curate"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
