"""T16 — merge-on-read DELETE (Iceberg v2 positional delete vectors).

The reference has no row-level delete at all (its tables are append/
overwrite only — ops/materialized_views.py rebuilds, never deletes); the
engine's MERGE (T12, maintenance/merge.py) gives copy-on-write row-level
ops. This module adds the MoR alternative: ``DELETE FROM t WHERE p``
without rewriting a single data byte —

  plan   : manifest-level candidate pruning (optional PrunePredicates:
           only files whose bounds/partition/bloom can match the predicate
           are scanned), then ONE vectorized JVM scan of the candidates
           (``dv.scan``: each row named by its file and position) for
           rows matching the predicate.
  write  : ``dv.write_hits`` leaves out rows an earlier delete already
           tombstoned (so re-running a delete is a no-op and per-file live
           counts never double-count) and writes the rest as ONE
           (path, pos)-sorted delete vector. O(deleted rows), not
           O(table). The DV format lives in core/dv.py alone.
           ``delete_keys`` with a broadcastable key set skips the JVM scan:
           MERGE's Arrow key probe finds the live hits and its tasks write
           them as DV fragments, which ``dv.consolidate`` merges into the
           one DV.
  commit : metadata-only — every touched file's manifest entry gains a DV
           reference (``Table.commit_delete_vectors``); concurrent rewrite
           of a touched file fails the commit (positions would index the
           wrong rows).

Readers apply tombstones at scan time (core/table.py _scan_with_deletes:
clean files stream through the ordinary scan; tombstoned files pay one
anti-join, broadcast under ``dv.DV_BROADCAST_MAX_BYTES``). Maintenance
rewrites (compaction T2, clustering T6, MERGE T12) absorb DVs — rewritten
files come out clean.

Scale notes: a predicate delete at 10^12 rows scans only the files its
predicate can touch (manifest pruning), moves only (path, pos) pairs, and
commits O(touched files) metadata. The single-file DV write serializes in
one task — at warehouse scale shard the write by table partition (one DV
per partition, same entry-level reference scheme); noted, not needed at
this corpus' delete volumes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import dv
from ..core.table import PrunePredicate, Table
from . import merge
from .checkpoint import Job, SystemTables


def delete_where(
    spark: SparkSession,
    table: Table,
    condition: str | Column,
    prune: list[PrunePredicate] | None = None,
    sys_tables: SystemTables | None = None,
    table_name: str = "",
) -> dict:
    """Merge-on-read row delete. Returns a result dict with the DV path,
    per-commit deleted-row count and touched-file count."""
    job = Job(sys_tables, "delete", table, table_name)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table"}
    if prune is None and isinstance(condition, str):
        # simple conjunctions prune candidates at the manifest for free
        from .predicates import derive_prune_predicates

        prune = derive_prune_predicates(condition, table.schema)
    entries = table.live_entries()
    if prune:
        entries = [e for e in entries if table._entry_matches(e, prune)]
    if not entries:
        return {"status": "no-candidate-files", "deleted_rows": 0}

    schema = table.schema
    df = dv.scan(spark, table.root, schema, [e.path for e in entries], schema.fieldNames())
    hits = df.filter(cond).select(dv.FP, dv.POS)
    with job.phase("write"):
        rel_dv, counts = dv.write_hits(spark, table.root, table._stage_dir(), hits, entries)
    return _commit_delete(table, entries, rel_dv, counts, job)


def delete_keys(
    spark: SparkSession,
    table: Table,
    keys: DataFrame,
    key_col: str = "image_id",
    sys_tables: SystemTables | None = None,
    table_name: str = "",
) -> dict:
    """Merge-on-read delete of every row whose ``key_col`` appears in the
    ``keys`` DataFrame — the set-driven sibling of :func:`delete_where` for
    callers whose delete list is itself a distributed result (near-dup
    losers, GDPR erasure batches), where an ``IN (...)`` predicate would
    drag the whole set through the driver.

    Scale shape: when the table is bucketed on ``key_col`` the candidate
    files shrink to the buckets the keys hash into (the same pruning MERGE
    uses — maintenance/merge.py). Up to ``merge.BROADCAST_THRESHOLD_ROWS``
    keys are collected with their buckets in one job and go to MERGE's one
    Arrow key probe (``merge.probe_keys``: bounds, Bloom, key-column read,
    minus existing tombstones), whose tasks write their hits as DV
    fragments that ``dv.consolidate`` merges into ONE DV. A larger key set
    shuffle-joins a JVM key-column scan instead (``dv.write_hits``, as
    :func:`delete_where`). Either way the commit is metadata-only with
    DV-count conflict guards, so re-running the same key set is a no-op
    and concurrent file rewrites conflict instead of corrupting positions."""
    job = Job(sys_tables, "delete", table, table_name)
    if table.current_snapshot() is None:
        return {"status": "empty-table"}
    keys = keys.select(key_col).distinct()
    n_keys = keys.count()  # caller caches `keys` when it is an expensive plan
    if n_keys == 0:
        return {"status": "no-matches", "deleted_rows": 0, "sec": round(time.time() - job.t0, 3)}
    bf = merge._bucket_field(table, key_col)
    bcol = [bf.to_column().alias("b")] if bf is not None else []
    key_list = None
    if n_keys <= merge.BROADCAST_THRESHOLD_ROWS:
        rows = keys.select(key_col, *bcol).collect()
        key_list = [r[0] for r in rows]
        buckets = {r[1] for r in rows} if bf is not None else None
    elif bf is not None:
        buckets = {r[0] for r in keys.select(*bcol).distinct().collect()}
    else:
        buckets = None
    entries = [
        e for e in table.live_entries() if buckets is None or merge._in_buckets(e, bf, buckets)
    ]
    if not entries:
        return {"status": "no-candidate-files", "deleted_rows": 0}

    with job.phase("write"):
        if key_list is not None:
            _, fragments, _ = merge.probe_keys(
                spark, table, [e.to_row() for e in entries], key_list, key_col,
                [e.size_bytes for e in entries], write_dv=True,
            )
            rel_dv, counts = dv.consolidate(table.root, fragments)
        else:
            df = dv.scan(spark, table.root, table.schema, [e.path for e in entries], [key_col])
            hits = df.join(keys, key_col, "semi").select(dv.FP, dv.POS)
            rel_dv, counts = dv.write_hits(spark, table.root, table._stage_dir(), hits, entries)
    return _commit_delete(table, entries, rel_dv, counts, job)


def _commit_delete(table: Table, entries, rel_dv: str | None, counts: dict, job: Job) -> dict:
    """Shared delete tail: the metadata-only commit of the new DV
    ``rel_dv`` (tombstones already listed by the candidates' DVs left out),
    guarded by the candidate ``entries``' observed DV counts."""
    if rel_dv is None:
        return {"status": "no-matches", "deleted_rows": 0, "sec": round(time.time() - job.t0, 3)}

    with job.phase("commit"):
        commit = table.commit_delete_vectors(
            rel_dv,
            counts,
            # the already-tombstoned exclusion ran against THESE DV sets; a
            # file that gained a DV since must conflict, not double-count
            expected_dv_counts={e.path: len(e.deletes) for e in entries},
        )
    deleted = int(sum(counts.values()))
    done = job.finish(
        files_before=len(counts), files_after=len(counts),
        bytes_after=os.path.getsize(os.path.join(table.root, rel_dv)), rows=deleted,
        snapshot_id=commit.snapshot_id, input_files=sorted(counts), output_files=[rel_dv],
    )
    return {
        "status": "deleted",
        "deleted_rows": deleted,
        "tombstoned_files": len(counts),
        "candidate_files": len(entries),
        "dv_path": rel_dv,
        "snapshot_id": commit.snapshot_id,
        "sec": round(done["duration_ms"] / 1000, 3),
        **done,
    }
