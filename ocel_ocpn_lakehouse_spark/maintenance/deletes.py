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
    return _finalize_delete(spark, table, entries, hits, job)


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
    files shrink to the buckets the keys hash into (O(distinct buckets)
    driver rows, same pruning MERGE uses — maintenance/merge.py); the scan
    projects only (file, pos, key), and the semi-join broadcasts up to
    ``merge.BROADCAST_THRESHOLD_ROWS`` keys, else shuffles. Everything
    downstream (tombstone exclusion → one sorted DV file → metadata-only
    commit with DV-count conflict guards) is shared with delete_where, so
    re-running the same key set is a no-op and concurrent file rewrites
    conflict instead of corrupting positions."""
    job = Job(sys_tables, "delete", table, table_name)
    if table.current_snapshot() is None:
        return {"status": "empty-table"}
    keys = keys.select(key_col).distinct()
    n_keys = keys.count()  # caller caches `keys` when it is an expensive plan
    if n_keys == 0:
        return {"status": "no-matches", "deleted_rows": 0, "sec": round(time.time() - job.t0, 3)}
    entries = table.live_entries()
    bf = next(
        (
            f
            for f in table.partition_spec.fields
            if f.transform == "bucket" and f.source == key_col
        ),
        None,
    )
    if bf is not None:
        buckets = {
            r["b"]
            for r in keys.select(
                F.pmod(F.xxhash64(F.col(key_col)), F.lit(bf.num_buckets)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        }
        entries = [
            e
            for e in entries
            if not e.partition
            or e.partition.get(bf.name, e.partition.get(bf.partition_column)) in buckets
        ]
    if not entries:
        return {"status": "no-candidate-files", "deleted_rows": 0}

    df = dv.scan(spark, table.root, table.schema, [e.path for e in entries], [key_col])
    rhs = F.broadcast(keys) if n_keys <= merge.BROADCAST_THRESHOLD_ROWS else keys
    hits = df.join(rhs, key_col, "semi").select(dv.FP, dv.POS)
    return _finalize_delete(spark, table, entries, hits, job)


def _finalize_delete(spark, table: Table, entries, hits, job: Job) -> dict:
    """Shared delete tail: DV write (tombstones already listed by the
    candidates' DVs left out) → metadata-only commit guarded by the
    candidate entries' observed DV counts."""
    with job.phase("write"):
        rel_dv, counts = dv.write_hits(spark, table.root, table._stage_dir(), hits, entries)
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
