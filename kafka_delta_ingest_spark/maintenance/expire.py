"""Snapshot expiry + orphan-file GC (north-rule op B4).

Mirrors the reference's checkpoint-then-cleanup cadence
(/root/reference/src/delta_helpers.rs:42-68: every 10th version write a
checkpoint and delete obsolete log JSON):

- ``expire_snapshots``: keep the last ``retain_last`` versions readable;
  write a checkpoint at the oldest retained version so history before it
  collapses, then delete older commit JSONs. Time travel to expired
  versions becomes unavailable (exactly Delta/Iceberg semantics).
- ``gc_orphans``: files on disk − files referenced by any readable version
  − staged-but-uncommitted files younger than ``grace_s``. Both sides are
  already driver-side (an ``os.walk`` listing and the log's referenced-path
  set), so the difference and the unlinks run on the driver too: no Spark
  job, and memory linear in the table's file count.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from kafka_delta_ingest_spark.table.format import CHECKPOINT_INTERVAL, Table


def expire_snapshots(
    table: Table,
    retain_last: int = CHECKPOINT_INTERVAL,
    older_than_ms: int | None = None,
) -> dict:
    """Expire history. ``retain_last`` keeps the newest K versions;
    ``older_than_ms`` (Iceberg expire_snapshots(older_than=...)) expires
    only versions committed strictly before the timestamp — whichever
    bound retains MORE wins, and ref-pinned versions are always kept."""
    head = table.latest_version()
    cutoff = head - retain_last + 1
    if older_than_ms is not None:
        age_cut = 0
        for v in range(head, -1, -1):
            p = table._version_path(v)
            if not os.path.exists(p):
                age_cut = v + 1
                break
            ts = table._read_commit(v).get("timestamp_ms")
            if ts is not None and ts < older_than_ms:
                age_cut = v + 1  # v is old enough to expire; keep v+1..head
                break
        else:
            age_cut = 0
        cutoff = min(cutoff, age_cut)
    # tag targets and branch fork points stay readable: expiring a version
    # a ref pins would break the tag's time travel / the branch's replay
    protected = table.protected_versions()
    if protected:
        cutoff = min(cutoff, min(protected))
    if cutoff <= 0:
        return {"expired": 0, "head": head}
    # checkpoint at the cutoff so snapshots >= cutoff stay resolvable
    if not os.path.exists(table._checkpoint_path(cutoff)):
        table._write_checkpoint(cutoff)
    expired = 0
    for v in range(0, cutoff):
        p = table._version_path(v)
        if os.path.exists(p):
            os.unlink(p)
            expired += 1
    # old checkpoints below cutoff are also obsolete
    for name in os.listdir(table.log_dir):
        if name.startswith("checkpoint-v") and name.endswith(".parquet"):
            cv = int(name[len("checkpoint-v") : len("checkpoint-v") + 20])
            if cv < cutoff:
                os.unlink(os.path.join(table.log_dir, name))
    return {"expired": expired, "head": head, "oldest_readable": cutoff}


def gc_orphans(
    spark: SparkSession,
    table: Table,
    grace_s: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Delete data files referenced by no readable snapshot.

    ``grace_s`` protects in-flight staged commits: files newer than the
    grace window are never collected (the reference's equivalent safety is
    that uncommitted parquet buffers live only in memory; ours live staged
    on disk until the log commit). ``spark`` is unused: the call launches
    no Spark job, and the parameter stays for existing callers."""
    t0 = time.time()
    cutoff = t0 - grace_s
    on_disk: list[tuple[str, float]] = []
    for dirpath, _dirs, files in os.walk(table.data_dir):
        for fn in files:
            p = os.path.join(dirpath, fn)
            on_disk.append((p, os.path.getmtime(p)))
    # read the log AFTER listing the disk: a file committed in between is
    # then referenced, never an orphan
    referenced = table.all_referenced_paths()
    orphans = [
        p for p, mtime in on_disk
        if mtime < cutoff and os.path.relpath(p, table.root) not in referenced
    ]

    deleted = 0
    if not dry_run:
        for p in orphans:
            try:
                os.unlink(p)
                deleted += 1
            except FileNotFoundError:
                pass  # raced by a concurrent GC — already gone
        # prune now-empty data dirs (cosmetic)
        for dirpath, dirs, files in os.walk(table.data_dir, topdown=False):
            if not dirs and not files and dirpath != table.data_dir:
                os.rmdir(dirpath)
    return {
        "deleted": deleted,
        "candidates": len(orphans),
        "kept": len(on_disk) - len(orphans),
        "duration_s": time.time() - t0,
    }
