"""Delete-vector consolidation: rewrite position-delete files, not data.

Iceberg parity: ``rewrite_position_delete_files`` (RewritePositionDeleteFiles
Spark procedure). Reference analog: none — the reference simulates
maintenance (ops/maintenance_system.py); this engine executes it.

Why it exists at the 10^12-row design point: a CDC/MERGE/erasure stream
lands thousands of merge-on-read commits a day, each writing one small DV
parquet that many data files reference. Between full compactions a hot
data file accumulates K DV references, so every scan of it opens K
tombstone files and the manifests carry K entries' worth of delete lists.
Full compaction absorbs the tombstones but rewrites the PAYLOAD bytes —
the one thing an image table cannot afford to do per-day. Consolidation
rewrites only the tombstone side:

* data files are untouched (no image byte moves, no stats/bloom recompute);
* the union of the targeted files' tombstone positions is re-written as
  few (path, pos)-sorted DV files — one per ≈``max_positions`` group, so
  a billion-tombstone backlog still bounds each output file;
* the commit is metadata-only (``commit_replace`` with identical data
  paths and new ``deletes`` lists), guarded by ``expected_dv_counts`` so
  a concurrent delete on a targeted file conflicts instead of being
  silently dropped — the exact race the round-3 guard was built for;
* the operation is ``replace`` (row-preserving): changelog and incremental
  consumers correctly see nothing, and time travel reads the old snapshot
  through the old DV files, which stay on disk until snapshot expiry
  refcounts them away (expire.py already treats listed DV paths as live).

Scale shape: the plan runs once. One Spark write reads only the affected
DV files (never a data byte), against a broadcast (path → group) map that
enters Spark as an Arrow local relation (no Python stage), and one shuffle
partitions tombstones by output group into ``dv.write_groups``, the
staged write every Spark-side DV writer shares (``dv.write_hits``, the
DELETE / MoR MERGE writer, is its single-group case). It reads each
group's per-file counts back from the file just written, never by
re-executing read → join → dedup. The driver holds O(targeted files)
planning state — the same order it already holds for any manifest commit.
"""

from __future__ import annotations

import dataclasses
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import dv
from ..core.local import local_df
from ..core.table import Table

# bound each consolidated DV file: ~8 bytes/pos + path overhead keeps one
# file's tombstone relation well under a task's memory at 50M positions
DEFAULT_MAX_POSITIONS = 50_000_000


def plan_rewrite_deletes(
    table: Table, min_refs: int = 2, max_positions: int = DEFAULT_MAX_POSITIONS
) -> list[dict]:
    """Targets = live files referencing ≥ ``min_refs`` delete-vector files,
    greedily packed into output groups of ≤ ``max_positions`` tombstones.
    Returns [{paths, dv_paths, positions}] — driver state O(targets)."""
    targets = [e for e in table.live_entries() if len(e.deletes) >= min_refs]
    groups: list[dict] = []
    cur: dict = {"paths": [], "dv_paths": set(), "positions": 0}
    for e in sorted(targets, key=lambda x: x.path):
        n = sum(int(d.get("count", 0)) for d in e.deletes)
        if cur["paths"] and cur["positions"] + n > max_positions:
            groups.append(cur)
            cur = {"paths": [], "dv_paths": set(), "positions": 0}
        cur["paths"].append(e.path)
        cur["dv_paths"].update(d["path"] for d in e.deletes)
        cur["positions"] += n
    if cur["paths"]:
        groups.append(cur)
    return groups


def rewrite_deletes(
    spark: SparkSession,
    table: Table,
    min_refs: int = 2,
    max_positions: int = DEFAULT_MAX_POSITIONS,
) -> dict:
    """Execute DV consolidation (see module docstring). Returns a result
    dict; ``status`` is ``no-candidates`` when every live file already
    references fewer than ``min_refs`` delete-vector files."""
    t0 = time.time()
    if table.current_snapshot() is None:
        return {"status": "empty-table"}
    entries = table.live_entries()
    by_path = {e.path: e for e in entries}
    groups = plan_rewrite_deletes(table, min_refs=min_refs, max_positions=max_positions)
    if not groups:
        return {"status": "no-candidates", "sec": round(time.time() - t0, 3)}

    # (data-file path → output group) map + the union of affected DV files
    pairs = [(p, gid) for gid, g in enumerate(groups) for p in g["paths"]]
    dv_rel = sorted(set().union(*(g["dv_paths"] for g in groups)))
    map_df = F.broadcast(local_df(spark, pairs, "path string, grp int"))
    tombstones = (
        dv.rows(spark, table.root, dv_rel)
        .join(map_df, "path")  # drops positions for files outside the plan
        # defensive: the write path excludes already-tombstoned rows, so
        # duplicates across DVs shouldn't exist; consolidation is the one
        # place a duplicate would get baked in forever, so dedup here
        .dropDuplicates(["path", "pos"])
    )
    # a group whose positions all deduped away writes no file
    written = dv.write_groups(
        table.root, table._stage_dir(), tombstones.repartition(len(groups), "grp"), len(groups)
    )
    grp_dv = {gid: rel for gid, (rel, _) in written.items()}
    counts: dict[str, int] = {}
    for _, c in written.values():
        counts.update(c)

    removed_paths: set[str] = set()
    added: list = []
    expected: dict[str, int] = {}
    for gid, g in enumerate(groups):
        for p in g["paths"]:
            e = by_path[p]
            n = counts.get(p, 0)
            new_deletes = (
                [{"path": grp_dv[gid], "count": n}] if n > 0 and gid in grp_dv else []
            )
            removed_paths.add(p)
            expected[p] = len(e.deletes)
            added.append(dataclasses.replace(e, deletes=new_deletes))

    snap = table.commit_replace(
        removed_paths,
        added,
        operation="replace",
        summary={
            "rewrite-deletes": True,
            "dv-files-consolidated": len(dv_rel),
            "dv-files-written": len(grp_dv),
            "files-retargeted": len(removed_paths),
            "positions": sum(counts.values()),
        },
        expected_dv_counts=expected,
    )
    return {
        "status": "ok",
        "snapshot_id": snap.snapshot_id,
        "dv_files_consolidated": len(dv_rel),
        "dv_files_written": len(grp_dv),
        "files_retargeted": len(removed_paths),
        "positions": sum(counts.values()),
        "sec": round(time.time() - t0, 3),
    }
