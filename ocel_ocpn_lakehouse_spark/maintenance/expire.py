"""T3 — reference-counted mark-and-sweep snapshot expiry, EXECUTED.

The reference only *recommends* expiry tiers (>30 d if >10 snapshots,
>90 d if >5 — ops/maintenance_system.py:169-228). Here it runs:

  mark : snapshots older than the retention cutoff, excluding the current
         snapshot and the newest `keep_last` (reference keep-floor policy).
  sweep: a data file is deletable iff it is referenced by ZERO remaining
         snapshots. After copy-on-write rewrites, old and new snapshots
         share unchanged files (SURVEY §7.3 hard part 1), so the sweep is
         an anti-join over manifest *entries* — expired-entry paths minus
         live-entry paths. It routes by the one planner rule
         (``Table.plans_distributed`` over expired ∪ live manifests): a
         metadata-sized history is refcounted on the driver from the
         manifests themselves (no Spark job), a history above
         ``scan.plan-distributed-threshold`` entries as a Spark DataFrame
         anti-join, so it scales to millions of manifest entries. Both
         routes delete the same files. Manifest files themselves are
         refcounted the same way.

The removal is a metadata commit (snapshot list shrinks, no new snapshot),
then physical deletes. A crash after the commit leaves only unreferenced
files on disk — swept by the orphan sweep (same invariant as the
reference's staged-commit design, ops/fix_iceberg_registration.py:45-74).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import manifests as mf
from ..core import metadata as meta
from ..core.table import Table
from .checkpoint import Job, SystemTables


def _referenced(entries) -> set[str]:
    """Data files ∪ delete-vector files the manifest ``entries`` list."""
    out = {e.path for e in entries}
    out.update(d["path"] for e in entries for d in e.deletes)
    return out


def _dead_files_distributed(spark, expired_paths: list[str], live_paths: list[str]) -> list[str]:
    """The same refcount as a Spark anti-join over manifest parquet, for
    histories whose entries exceed the planner threshold."""
    from ..core.table import _entries_spark_schema

    mschema = _entries_spark_schema()
    dv_type = "array<struct<path:string,count:bigint>>"

    def _referenced_df(paths):  # data files ∪ delete-vector files
        df = spark.read.schema(mschema).parquet(*paths)
        dvs = (
            df.select(
                F.explode_outer(
                    F.from_json(F.coalesce(F.col("deletes"), F.lit("[]")), dv_type)
                ).alias("d")
            )
            .select(F.col("d.path").alias("path"))
            .where(F.col("path").isNotNull())
        )
        return df.select("path").unionByName(dvs).distinct()

    dead_df = _referenced_df(expired_paths)
    if live_paths:
        dead_df = dead_df.join(_referenced_df(live_paths), "path", "left_anti")
    return sorted(r["path"] for r in dead_df.collect())


def expire_snapshots(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables | None = None,
    table_name: str = "",
    older_than_ms: int | None = None,
    retention_days: float | None = None,
    keep_last: int | None = None,
    dry_run: bool = False,
) -> dict:
    job = Job(sys_tables, "expire", table, table_name)
    md = meta.load_metadata(table.root)
    if retention_days is None:
        retention_days = float(md.properties.get("snapshot.retention-days", 30))
    if keep_last is None:
        keep_last = int(md.properties.get("snapshot.keep-last-n", 5))
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - int(retention_days * 86_400_000)

    snaps = sorted(md.snapshots, key=lambda s: s.sequence_number)
    protected = {s.snapshot_id for s in snaps[-keep_last:]} if keep_last else set()
    if md.current_snapshot_id is not None:
        protected.add(md.current_snapshot_id)
    # tagged snapshots are pinned for as long as the ref exists (Iceberg
    # ref-retention semantics: expiry never breaks a named ref)
    protected.update(md.refs.values())
    expired = [
        s for s in snaps if s.snapshot_id not in protected and s.timestamp_ms < older_than_ms
    ]
    if not expired:
        return {"status": "nothing-to-expire", "expired": 0}
    remaining = [s for s in snaps if s.snapshot_id not in {e.snapshot_id for e in expired}]

    # manifest refcount: a manifest file is dead iff no remaining snapshot lists it
    live_manifests = {m for s in remaining for m in s.manifests}
    expired_manifests = {m for s in expired for m in s.manifests}
    dead_manifests = expired_manifests - live_manifests

    with job.phase("plan"):
        mdir = table.metadata_dir
        if not expired_manifests:
            dead_files: list[str] = []
        elif not table.plans_distributed(list(expired_manifests | live_manifests)):
            # metadata-sized: refcount on the driver straight from the
            # manifests (the sweep_orphans read) — no Spark job at all
            dead_files = sorted(
                _referenced(mf.read_manifests(mdir, expired_manifests))
                - _referenced(mf.read_manifests(mdir, live_manifests))
            )
        else:
            dead_files = _dead_files_distributed(
                spark,
                [os.path.join(mdir, m) for m in expired_manifests],
                [os.path.join(mdir, m) for m in live_manifests],
            )

    result = {
        "status": "dry-run" if dry_run else "expired",
        "expired": len(expired),
        "expired_snapshot_ids": [s.snapshot_id for s in expired],
        "remaining": len(remaining),
        "deleted_files": len(dead_files),
        "deleted_manifests": len(dead_manifests),
    }
    if dry_run:
        return result

    # metadata commit first (readers of old metadata still see intact files
    # until the physical delete below; new readers never see expired snaps)
    with job.phase("commit"):
        md.snapshots = remaining
        meta.commit_metadata(table.root, md, md.version)
        table.md = md

    # parallel unlink: a big expiry can drop 10^5 orphans; on object stores
    # each delete is a round-trip, so fan out (serial loop was the round-1
    # reviewer's flag)
    from concurrent.futures import ThreadPoolExecutor

    def _rm(p: str) -> None:
        if os.path.exists(p):
            os.remove(p)

    targets = [os.path.join(table.root, rel) for rel in dead_files]
    targets += [os.path.join(mdir, m) for m in dead_manifests]
    with job.phase("sweep"):
        if targets:
            with ThreadPoolExecutor(max_workers=min(16, max(1, len(targets)))) as ex:
                list(ex.map(_rm, targets))

    result.update(job.finish(
        files_before=len(dead_files),
        input_files=[f"snapshot:{s.snapshot_id}" for s in expired],
    ))
    return result


def retention_analysis(table: Table, now_ms: int | None = None) -> dict:
    """The reference's advisory tiers (ops/maintenance_system.py:197-222)."""
    now_ms = now_ms or int(time.time() * 1000)
    snaps = table.snapshots()
    age_days = [(now_ms - s.timestamp_ms) / 86_400_000 for s in snaps]
    n30 = sum(1 for a in age_days if a > 30)
    n90 = sum(1 for a in age_days if a > 90)
    recs = []
    if len(snaps) > 10 and n30:
        recs.append(f"expire {n30} snapshots older than 30d")
    if len(snaps) > 5 and n90:
        recs.append(f"expire {n90} snapshots older than 90d")
    if len(snaps) > 50:
        recs.append("adopt automated retention policy")
    return {"snapshots": len(snaps), "older_30d": n30, "older_90d": n90, "recommendations": recs}


def sweep_orphans(
    table: Table, dry_run: bool = False, older_than_hours: float = 24.0
) -> dict:
    """Orphan-file sweep: data files on disk referenced by no snapshot
    (reference detector: ops/fix_iceberg_registration.py:45-74) — the
    crash-recovery half of the two-phase write: publish_staged moves files
    into data/ BEFORE the snapshot commit, so a crash in that window
    strands exactly these files.

    ``older_than_hours`` is the concurrent-writer grace period (Iceberg
    remove_orphan_files' older_than, default 3 days): a file published by
    an IN-FLIGHT commit is also unreferenced at list time, and sweeping it
    would fail that writer's commit after the fact. Only files whose mtime
    predates the grace window are deleted; pass 0 only when no writer can
    be live (tests, single-writer recovery)."""
    referenced: set[str] = set()
    for s in table.snapshots():
        from ..core import manifests as mf

        for e in mf.read_manifests(table.metadata_dir, s.manifests):
            referenced.add(e.path)
            for d in e.deletes:  # live delete-vector files are not orphans
                referenced.add(d["path"])
    cutoff = time.time() - older_than_hours * 3600.0
    orphans, too_young = [], 0
    for dirpath, _dn, files in os.walk(table.data_dir):
        for f in files:
            ap = os.path.join(dirpath, f)
            rel = os.path.relpath(ap, table.root)
            if rel not in referenced and f.endswith(".parquet"):
                if os.path.getmtime(ap) > cutoff:
                    too_young += 1  # possibly an in-flight publish: keep
                    continue
                orphans.append(rel)
    if not dry_run:
        for rel in orphans:
            os.remove(os.path.join(table.root, rel))
    return {
        "orphans": len(orphans),
        "paths": orphans[:20],
        "dry_run": dry_run,
        "kept_in_grace": too_young,
    }
