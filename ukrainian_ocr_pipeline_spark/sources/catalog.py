"""Snapshot-manifest table layer — atomic commit + resume semantics.

Production design is Iceberg: `df.writeTo("extracted").append()` /
`MERGE INTO extracted ON url`, WAP (write-audit-publish) branch commits,
`stream-from-snapshot` incremental reads, `expire_snapshots`
maintenance.  This sandbox has no Iceberg runtime jar, so this module
provides the same contract on plain Parquet:

  * a table is a directory of immutable bucket files plus a `snapshots/`
    dir of JSON manifests; the LATEST committed manifest defines table
    state and carries the written schema, so a read infers nothing and
    (with the session's driver-side listing) runs no Spark job,
  * a write is: stage bucket files -> fsync -> atomically rename a JSON
    manifest into snapshots/ (rename is the commit point),
  * resume: a writer computes the buckets in waves, one Spark job per
    wave, and publishes each bucket of a wave with a completion marker;
    an input narrower than the task slots is spread by bucket id so a
    wave still uses every slot and each bucket stays one file;
    a restarted job skips buckets whose marker matches (input_snapshot,
    bucket_id) — the north rule's "resumes from the last committed
    checkpoint" — so a crash loses at most one wave of work,
  * idempotence: re-running a committed (input_snapshot, job) is a no-op.

Reference analog: the per-item error capture + summary reporting of
core/batch_processor.py:58-66,223-283 gave crash *visibility* but not
restartability; this layer adds the restartability.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


class CommitConflict(Exception):
    """Another writer committed this snapshot_id first (lost the race)."""


class ConcurrentWriter(Exception):
    """A live writer already holds this bucketed snapshot's lease."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except (ValueError, OverflowError):
        return False
    return True


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _write_owner(path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"pid": os.getpid()}, fh)


def _owner_marker(stage_dir: str) -> str:
    """Sibling owner file for an attempt dir, underscore-prefixed so a
    parquet read of the shared data root (the bucketed manifest points
    at the root itself, recursiveFileLookup) IGNORES it — Spark skips
    files starting with '_' or '.', so a marker dangling after a crash
    can never make a committed snapshot unreadable."""
    d, b = os.path.split(stage_dir)
    return os.path.join(d, f"_{b}.writer.json")


def _marker_attempt_dir(marker_path: str) -> str:
    """Inverse of :func:`_owner_marker`."""
    d, b = os.path.split(marker_path)
    return os.path.join(d, b[1:-len(".writer.json")])


def _gc_dead_attempts(parent: str, prefix: str,
                      keep: frozenset | set = frozenset()) -> list[str]:
    """Remove `prefix`* attempt dirs under `parent` whose writer is dead
    (crash leftovers), and dangling owner files of writers that died
    before their dir appeared.  Dirs in `keep` are never touched."""
    removed = []
    for name in sorted(os.listdir(parent)):
        path = os.path.join(parent, name)
        if name.startswith(prefix) and os.path.isdir(path):
            if path in keep or _owner_alive(_owner_marker(path)):
                continue
            shutil.rmtree(path, ignore_errors=True)
            _unlink_quiet(_owner_marker(path))
            removed.append(path)
        elif (name.startswith("_" + prefix) and name.endswith(".writer.json")
              and not os.path.isdir(_marker_attempt_dir(path))
              and not _owner_alive(path)):
            _unlink_quiet(path)
            removed.append(path)
    return removed


def _wave_width(n_buckets: int, slots: int, partitions: int) -> int:
    """Buckets computed per Spark job: W = ceil(n_buckets * slots /
    partitions), so one wave's input holds at least one round of the
    cluster's task slots; W = 1 once each bucket alone is that large."""
    return max(1, -(-n_buckets * slots // max(1, partitions)))


def _schema_only_file(df: DataFrame, stage: str) -> tuple[str, bytes]:
    """(name, bytes) of the row-less parquet file Spark writes for an
    empty `df` — what a per-bucket write of an empty bucket leaves."""
    path = os.path.join(stage, "_empty")
    df.limit(0).write.parquet(path)
    name = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    with open(os.path.join(path, name), "rb") as fh:
        return name, fh.read()


def _lease_holder(path: str) -> int | None:
    try:
        with open(path, encoding="utf-8") as fh:
            return int(json.load(fh)["pid"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None


def _owner_alive(path: str) -> bool:
    """True when the owner file exists and its recorded pid is live.
    Single-node semantics (the local fallback's scope); the production
    catalog is Iceberg, whose optimistic commits need no pid."""
    holder = _lease_holder(path)
    return holder is not None and _pid_alive(holder)


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "snapshots")

    def _data_dir(self, table: str, snapshot_id: str) -> str:
        return os.path.join(self._table_dir(table), f"data-{snapshot_id}")

    def _markers_dir(self, table: str, snapshot_id: str) -> str:
        return os.path.join(self._table_dir(table), f"markers-{snapshot_id}")

    # -- manifest ----------------------------------------------------------
    def snapshots(self, table: str) -> list[dict]:
        d = self._snap_dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            # dot-prefixed names are _commit's in-flight staging files
            # (.tmp-*.json): mid-write they are partial JSON, and one
            # left by a killed writer is an UNCOMMITTED manifest — either
            # way they must never read as committed snapshots
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    out.append(json.load(fh))
        # tiebreaks: concurrent commits of DIFFERENT ids can observe the
        # same length and claim equal sequence numbers — order ties by
        # commit wall time, then id (a stalled writer that commits late
        # with a stale sequence sorts by when it actually committed)
        return sorted(out, key=lambda m: (m["sequence"],
                                          m.get("committed_at_unix", 0.0),
                                          m["snapshot_id"]))

    def latest_snapshot(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def _commit(self, table: str, manifest: dict) -> dict:
        snap_dir = self._snap_dir(table)
        os.makedirs(snap_dir, exist_ok=True)
        manifest["sequence"] = len(self.snapshots(table))
        tmp = os.path.join(snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(snap_dir, f"{manifest['snapshot_id']}.json")
        # EXCLUSIVE commit point: link() fails if the manifest already
        # exists (rename() would silently replace a concurrent winner's
        # manifest) — the one writer whose link succeeds owns the snapshot
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(manifest["snapshot_id"]) from None
        os.unlink(tmp)
        return manifest

    def is_committed(self, table: str, snapshot_id: str) -> bool:
        return os.path.exists(os.path.join(self._snap_dir(table), f"{snapshot_id}.json"))

    # -- write paths ---------------------------------------------------------
    def write_snapshot(self, df: DataFrame, table: str, snapshot_id: str,
                       parent: str | None = None) -> dict:
        """Single-job write-audit-publish: stage the whole dataset, then
        commit atomically. Re-running a committed snapshot is a no-op."""
        if self.is_committed(table, snapshot_id):
            # idempotent: return THIS snapshot's manifest, not the latest
            return next(s for s in self.snapshots(table)
                        if s["snapshot_id"] == snapshot_id)
        # stage into a per-ATTEMPT directory: concurrent writers of the
        # same snapshot_id (retried-but-not-dead orchestrator tasks)
        # must never share a staging path — the old shared-dir staging
        # let one writer rmtree/overwrite another's in-flight files.
        # The manifest records the winning attempt's dir; readers only
        # ever follow the manifest.
        stage_root = self._data_dir(table, snapshot_id)
        stage_dir = os.path.join(stage_root, f"attempt-{uuid.uuid4().hex}")
        os.makedirs(stage_root, exist_ok=True)
        # owner marker is a SIBLING file, not inside the dir — the
        # overwrite-mode parquet write would wipe an in-dir marker and
        # leave a live in-flight attempt looking dead to the GC below
        owner = _owner_marker(stage_dir)
        _write_owner(owner)
        df.write.mode("overwrite").parquet(stage_dir)
        try:
            manifest = self._commit(table, {
                "snapshot_id": snapshot_id, "parent": parent,
                "data_dir": stage_dir, "committed_at_unix": time.time(),
                "mode": "full", "schema": df.schema.json(),
            })
        except CommitConflict:
            # lost the race: discard our stage, adopt the winner's result
            shutil.rmtree(stage_dir, ignore_errors=True)
            _unlink_quiet(owner)
            return next(s for s in self.snapshots(table)
                        if s["snapshot_id"] == snapshot_id)
        _unlink_quiet(owner)  # committed: the manifest now guards the dir
        # winner: GC sibling attempt dirs whose writer is dead (crashed
        # attempts would otherwise leak a full dataset copy each); live
        # concurrent losers clean up after themselves on CommitConflict
        _gc_dead_attempts(stage_root, "attempt-", keep={stage_dir})
        return manifest

    def write_snapshot_bucketed(self, pages: DataFrame, table: str,
                                snapshot_id: str, n_buckets: int,
                                transform, key_col: str = "url",
                                fail_after_bucket: int | None = None) -> dict:
        """Bucket-granular resumable write (the resume-semantics path).

        Buckets rows by pmod(xxhash64(key_col), n_buckets) and computes
        the pending buckets in waves of W: one `transform` call and one
        Spark job per wave, written with partitionBy("bucket") into a
        staging dir beside data-<snapshot_id>.  The driver then publishes
        the wave bucket by bucket: rename bucket=K into the data dir,
        then drop its marker file.  A restarted writer skips marked
        buckets and discards the staging dirs of earlier attempts, so
        work lost to a crash is at most one wave.  `fail_after_bucket`
        is a test hook simulating a crash once more than that many
        buckets are published (possibly mid-wave).

        Scale note: W = ceil(n_buckets * P / S), P the cluster's task
        slots (defaultParallelism) and S the input's partitions, so each
        wave's input fills at least one round of slots.  Small inputs
        run in one wave (one job, one scan); an input with S < P (one
        wave, since then W > n_buckets) is first repartitioned by bucket
        id into min(P, n_buckets) partitions (task = bucket mod that), so
        `transform` runs on every slot with an equal share of buckets
        and each bucket still lands in one task (one file per bucket=K);
        the shuffle moves at most S * maxPartitionBytes < P * 64 MB.
        Once a bucket alone fills the slots (S >= n_buckets * P — the
        10^12-doc case) W = 1 and each bucket is its own job, where
        n_buckets ~ O(10^3) keeps restart loss ~0.1% of work.
        """
        if self.is_committed(table, snapshot_id):
            return next(s for s in self.snapshots(table)
                        if s["snapshot_id"] == snapshot_id)
        data_dir = self._data_dir(table, snapshot_id)
        markers = self._markers_dir(table, snapshot_id)
        os.makedirs(markers, exist_ok=True)
        # writer LEASE: the bucketed path shares data_dir/markers across
        # attempts (that sharing IS the resume mechanism), which is only
        # safe for SEQUENTIAL restart — a concurrently-live second writer
        # would rmtree/rewrite buckets the first is mid-writing.  A pid
        # lease turns that corruption into a loud error; a dead holder's
        # lease (the crash-restart case) is broken automatically.
        lease = os.path.join(markers, ".lease.json")
        while True:
            # the lease must be BORN with its pid: an O_EXCL create
            # followed by a separate write leaves a window where a racer
            # reads the empty file, concludes the holder is dead, breaks
            # the "stale" lease, and runs concurrently with the creator —
            # stage the content first, then link() it into place (atomic
            # name + content)
            stage = os.path.join(markers, f".lease-stage-{uuid.uuid4().hex}")
            try:
                _write_owner(stage)
            except FileNotFoundError:
                # markers dir vacuumed between our makedirs and here
                # (snapshot committed concurrently): the is_committed
                # re-check short-circuits, else recreate and retry
                if self.is_committed(table, snapshot_id):
                    return next(s for s in self.snapshots(table)
                                if s["snapshot_id"] == snapshot_id)
                os.makedirs(markers, exist_ok=True)
                continue
            try:
                os.link(stage, lease)
            except FileExistsError:
                _unlink_quiet(stage)
                if _lease_holder(lease) == os.getpid():
                    break  # re-entrant: our own earlier (failed) attempt
                if _owner_alive(lease):
                    raise ConcurrentWriter(
                        f"bucketed writer already live for {table}/{snapshot_id}")
                # break the stale lease ATOMICALLY: rename to a unique
                # tombstone — of N racers only the one whose rename
                # succeeds proceeds immediately; check-then-unlink would
                # let a second racer delete the lease the first just
                # created and run concurrently with it
                try:
                    os.rename(lease, os.path.join(
                        markers, f".lease-tomb-{uuid.uuid4().hex}"))
                except OSError:
                    pass  # someone else broke/claimed it first; retry
                continue
            except FileNotFoundError:
                _unlink_quiet(stage)
                if self.is_committed(table, snapshot_id):
                    return next(s for s in self.snapshots(table)
                                if s["snapshot_id"] == snapshot_id)
                os.makedirs(markers, exist_ok=True)
                continue
            _unlink_quiet(stage)
            break
        # bucket markers are only valid under the EXACT bucketing that
        # wrote them: a restart with a different n_buckets would skip
        # marked buckets whose files hold a different modulus — rows
        # silently lost AND duplicated.  Pin the params with the first
        # lease; any later attempt must match or fail loudly.
        params_path = os.path.join(markers, ".params.json")
        params = {"n_buckets": int(n_buckets), "key_col": key_col}
        if os.path.exists(params_path):
            with open(params_path, encoding="utf-8") as fh:
                prev = json.load(fh)
            if prev != params:
                raise ValueError(
                    f"bucketed resume parameter mismatch for "
                    f"{table}/{snapshot_id}: markers were written with "
                    f"{prev}, this attempt uses {params} — resume with "
                    "the original parameters or use a fresh snapshot id")
        else:
            with open(params_path, "w", encoding="utf-8") as fh:
                json.dump(params, fh)
        # we hold the lease, so every staging dir of this snapshot is an
        # earlier attempt's unpublished wave: never read, never resumed
        tdir = self._table_dir(table)
        prefix = f"staging-{snapshot_id}-"
        for d in os.listdir(tdir):
            if d.startswith(prefix) and len(d) == len(prefix) + 32:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                _unlink_quiet(_owner_marker(os.path.join(tdir, d)))
        pending = [b for b in range(n_buckets) if not os.path.exists(
            os.path.join(markers, f"bucket-{b}.done"))]
        bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        width, spread = 1, 0
        if pending:
            slots = pages.sparkSession.sparkContext.defaultParallelism
            parts = pages.rdd.getNumPartitions()
            width = _wave_width(n_buckets, slots, parts)
            if parts < slots:
                # one wave (W > n_buckets): spread it over the slots
                spread = min(slots, n_buckets)
        # the manifest records the written schema; with nothing pending
        # (every bucket published before a crash) the plan still has it
        schema = None if pending else transform(pages).schema.json()
        published = 0
        empty_file = None  # (name, bytes) of a schema-only parquet file
        for i in range(0, len(pending), width):
            wave = pending[i:i + width]
            stage = os.path.join(tdir, prefix + uuid.uuid4().hex)
            owner = _owner_marker(stage)
            _write_owner(owner)
            rows = pages.where(bucket.isin(wave))
            if spread:
                # task = bucket mod spread: every bucket in one task, and
                # n_buckets / spread buckets per task
                rows = rows.repartitionById(spread, bucket.cast("int"))
            out = transform(rows)
            schema = out.schema.json()
            if key_col not in out.columns or "bucket" in out.columns:
                raise ValueError(
                    f"bucketed transform output must keep {key_col!r} and "
                    f"must not carry a 'bucket' column: {out.columns}")
            out.withColumn("bucket", bucket).write.partitionBy("bucket").parquet(stage)
            staged = {d for d in os.listdir(stage) if d.startswith("bucket=")}
            if not staged <= {f"bucket={b}" for b in wave}:
                raise ValueError(
                    f"bucketed transform changed {key_col!r}: rows hash "
                    f"outside their wave ({sorted(staged)} vs {wave})")
            for b in wave:
                if f"bucket={b}" not in staged:
                    # no rows hash here: a schema-only file keeps the
                    # bucket=K layout and an all-empty input readable
                    empty_file = empty_file or _schema_only_file(out, stage)
                    part = os.path.join(stage, f"bucket={b}")
                    os.makedirs(part)
                    with open(os.path.join(part, empty_file[0]), "wb") as fh:
                        fh.write(empty_file[1])
            os.makedirs(data_dir, exist_ok=True)
            for b in wave:
                dest = os.path.join(data_dir, f"bucket={b}")
                if os.path.exists(dest):
                    shutil.rmtree(dest)  # published, crashed before its marker
                os.rename(os.path.join(stage, f"bucket={b}"), dest)
                with open(os.path.join(markers, f"bucket-{b}.done"), "w",
                          encoding="utf-8") as fh:
                    fh.write(json.dumps({"bucket": b, "snapshot_id": snapshot_id}))
                published += 1
                if fail_after_bucket is not None and published > fail_after_bucket:
                    raise RuntimeError(f"simulated crash after bucket {b}")
            shutil.rmtree(stage, ignore_errors=True)
            _unlink_quiet(owner)
        # GC dead full-mode attempt leftovers from the shared root BEFORE
        # committing: the bucketed manifest points at data_dir itself, so
        # a crashed write_snapshot attempt-* left inside would be read
        # back (recursiveFileLookup) as foreign rows
        if os.path.isdir(data_dir):
            _gc_dead_attempts(data_dir, "attempt-")
        try:
            manifest = self._commit(table, {
                "snapshot_id": snapshot_id, "parent": None, "data_dir": data_dir,
                "n_buckets": n_buckets, "committed_at_unix": time.time(),
                "mode": "bucketed", "schema": schema,
            })
        except CommitConflict:
            # a racer committed between our lease and commit (it must
            # have held an earlier lease and died after committing, or
            # committed via the non-bucketed path); our buckets match
            # the marker-guarded layout — adopt the manifest, and clean
            # our markers like the winning path does
            shutil.rmtree(markers, ignore_errors=True)
            return next(s for s in self.snapshots(table)
                        if s["snapshot_id"] == snapshot_id)
        shutil.rmtree(markers, ignore_errors=True)
        return manifest

    # -- maintenance --------------------------------------------------------
    def vacuum(self, table: str) -> list[str]:
        """Remove storage not referenced by any committed manifest:
        attempt dirs whose writer is dead (crash leftovers) and markers
        dirs of already-committed snapshots.  The local twin of Iceberg's
        remove_orphan_files; safe to run any time — live writers are
        detected via their .writer.json/.lease.json pid and skipped."""
        removed = []
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return removed
        referenced = {m["data_dir"] for m in self.snapshots(table)}
        # staging dirs of bucketed writers sit beside the data dirs
        removed += _gc_dead_attempts(tdir, "staging-")
        for entry in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, entry)
            if entry.startswith("data-") and os.path.isdir(path):
                removed += _gc_dead_attempts(path, "attempt-", keep=referenced)
            elif entry.startswith("markers-") and os.path.isdir(path):
                snap = entry[len("markers-"):]
                if self.is_committed(table, snap) and not _owner_alive(
                        os.path.join(path, ".lease.json")):
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    # -- read path ----------------------------------------------------------
    def read_snapshot(self, spark: SparkSession, table: str,
                      snapshot_id: str | None = None) -> DataFrame:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no committed snapshots for table {table}")
        if snapshot_id is None:
            m = snaps[-1]
        else:
            m = next(s for s in snaps if s["snapshot_id"] == snapshot_id)
        reader = spark.read.option("recursiveFileLookup", "true")
        if "schema" in m:
            # the schema the writer recorded: no inference job to run
            reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
        return reader.parquet(m["data_dir"])
