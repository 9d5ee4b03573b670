"""T2 — size-tiered bin-packing compaction, EXECUTED (not simulated).

The reference stops at simulation: estimated_files_after =
total_size // 256 MB, "would require rewrite" (ops/maintenance_system.py:
115-166). Here the plan is executed as one Spark job + a driver commit:

  plan   : per-partition first-fit-decreasing of small files into bins of
           ≤ target file size (driver, manifest-only — same split as the
           reference's metadata-only planner, §3.3).
  execute: ONE distributed job, ZERO shuffles, O(1) driver plan, run on
           the staged-rewrite kernel (maintenance/rewrite.py owns the read,
           the staged write, the stats and the publish). One task per group
           spec reads the group's files, sorts by the table sort order and
           writes ONE ≈target-size file — Iceberg's binpack shape, N
           independent group-tasks with perfect locality. The driver
           publishes group-by-group with checkpoint rows (planned →
           written) and commits ONE replace-snapshot at the end (written →
           committed).
  resume : deterministic job_id = f(table uuid, snapshot); groups already
           'written' are excluded from the rewrite job, their outputs are
           reused from the checkpoint row; a fully-committed job is a
           no-op — the snapshot is never re-committed (north rule).

Scale notes: NO shuffle, NO join, NO per-group Catalyst plan. Payload
bytes move disk → Arrow → disk exactly once and never cross the JVM row
pipeline; per-file open cost is Arrow-native (a compaction of 10^5 tiny
files pays 10^5 C++ footer reads spread across the cluster, not JVM
reader setups inside few tasks). The spec DataFrame is O(#groups)
metadata rows, so a 10^5-group pass is still one job with one tiny
range-partitioned input; group memory is bounded by target_file_size (no
global sort — SURVEY §7.3 hard part 3).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import manifests as mf
from ..core.table import Table
from .checkpoint import Job, SystemTables
from .rewrite import STATS_SCHEMA, StagedRewrite, dv_spec, tasks_df


class InjectedFailure(RuntimeError):
    """Raised by the fault-injection hook in tests (kill-resume scenario)."""


@dataclass
class FileGroup:
    group_id: str
    partition: dict
    input_paths: list[str]  # relative to table root
    input_bytes: int
    input_records: int
    # MoR absorb: rel data path → [rel DV paths] for tombstoned members;
    # the rewrite task masks those positions, so outputs are clean
    input_dvs: dict = field(default_factory=dict)


def _group_id(paths: list[str], dvs: dict | None = None) -> str:
    """Stable id of a file group = hash of member paths PLUS their delete-
    vector state. Same paths with different tombstone sets must be
    DIFFERENT groups: resume recovers 'written' outputs by group id, and an
    output written before a concurrent delete landed has not absorbed the
    new tombstones — reusing it would resurrect the deleted rows."""
    key = "\n".join(sorted(paths))
    if dvs:
        key += "\n#dv#" + json.dumps({k: sorted(v) for k, v in dvs.items()}, sort_keys=True)
    return hashlib.sha1(key.encode()).hexdigest()[:16]


def plan_compaction(
    table: Table,
    include_all: bool = False,
    min_group_files: int = 2,
) -> list[FileGroup]:
    """First-fit-decreasing bin packing of small files, per partition.

    Only files below the small-file cutoff are candidates (reference
    threshold ops/maintenance_system.py:58) unless include_all; bins cap
    at the 256 MB target (:139). Deterministic: sorted inputs → stable
    group ids, which is what makes resume after a crash find its groups.
    """
    target = table.target_file_size
    small = table.small_file_bytes
    by_partition: dict[str, list[mf.ManifestEntry]] = {}
    for e in table.live_entries():
        # tombstoned files are rewrite candidates regardless of size: the
        # rewrite absorbs their delete vectors (Iceberg rewrite_data_files
        # delete-threshold behavior)
        if include_all or e.size_bytes < small or e.deletes:
            by_partition.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)

    groups: list[FileGroup] = []
    for pkey in sorted(by_partition):
        entries = sorted(by_partition[pkey], key=lambda e: (-e.size_bytes, e.path))
        bins: list[list[mf.ManifestEntry]] = []
        bin_sizes: list[int] = []
        for e in entries:
            placed = False
            for i, sz in enumerate(bin_sizes):
                if sz + e.size_bytes <= target:
                    bins[i].append(e)
                    bin_sizes[i] += e.size_bytes
                    placed = True
                    break
            if not placed:
                bins.append([e])
                bin_sizes.append(e.size_bytes)
        for b in bins:
            dvs = {e.path: [d["path"] for d in e.deletes] for e in b if e.deletes}
            # a lone tombstoned file still needs its rewrite (absorb), even
            # though a lone clean small file would be left as-is
            if len(b) < min_group_files and not dvs:
                continue
            paths = [e.path for e in b]
            groups.append(
                FileGroup(
                    group_id=_group_id(paths, dvs),
                    partition=b[0].partition,
                    input_paths=paths,
                    input_bytes=sum(e.size_bytes for e in b),
                    input_records=sum(e.live_count for e in b),
                    input_dvs=dvs,
                )
            )
    return groups


def plan_compaction_distributed(
    spark: SparkSession,
    table: Table,
    include_all: bool = False,
    min_group_files: int = 2,
) -> list[FileGroup]:
    """The same FFD plan as :func:`plan_compaction`, computed over
    ``entries_df`` so manifests never materialize as driver objects.

    At the 10^12-row design point a table holds 10^5–10^7 files; loading
    every ManifestEntry (with its stats JSON) onto the driver just to plan
    is the kind of driver bottleneck the manifest layer promises to avoid.
    Here the manifest scan + small-file filter + per-partition first-fit-
    decreasing all run as one Spark job (applyInPandas per partition — the
    packing is per-partition sequential by definition, so partition is the
    right parallelism unit), and the driver collects only the plan rows
    (group id, member paths, totals). Output is byte-identical to the
    driver planner (same sort, same bins, same sha1 group ids) — asserted
    by test_distributed_planner_parity.
    """
    import pandas as pd

    target = table.target_file_size
    small = table.small_file_bytes
    e = table.entries_df(spark).select(
        "path",
        "partition",
        "size_bytes",
        "record_count",
        F.coalesce(F.col("deletes"), F.lit("[]")).alias("deletes"),
    )
    if not include_all:
        # same candidacy as the driver planner: small OR tombstoned
        e = e.filter((F.col("size_bytes") < small) | (F.col("deletes") != "[]"))

    def ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["size_bytes", "path"], ascending=[False, True], kind="mergesort"
        )
        bins: list[list[int]] = []
        bin_sizes: list[int] = []
        idx = list(pdf.index)
        for i in idx:
            sz = int(pdf.at[i, "size_bytes"])
            placed = False
            for b, bsz in enumerate(bin_sizes):
                if bsz + sz <= target:
                    bins[b].append(i)
                    bin_sizes[b] += sz
                    placed = True
                    break
            if not placed:
                bins.append([i])
                bin_sizes.append(sz)
        out = []
        part = pdf["partition"].iloc[0] if len(pdf) else "{}"
        for b in bins:
            dvs = {}
            live = 0
            for i in b:
                dels = json.loads(pdf.at[i, "deletes"] or "[]")
                live += int(pdf.at[i, "record_count"]) - sum(int(d["count"]) for d in dels)
                if dels:
                    dvs[pdf.at[i, "path"]] = [d["path"] for d in dels]
            if len(b) < min_group_files and not dvs:
                continue
            paths = [pdf.at[i, "path"] for i in b]
            out.append(
                {
                    "partition": part,
                    "group_id": _group_id(paths, dvs),
                    "input_paths": paths,
                    "input_bytes": int(sum(int(pdf.at[i, "size_bytes"]) for i in b)),
                    "input_records": live,
                    "input_dvs": json.dumps(dvs, sort_keys=True),
                }
            )
        return pd.DataFrame(
            out,
            columns=[
                "partition", "group_id", "input_paths", "input_bytes",
                "input_records", "input_dvs",
            ],
        )

    rows = (
        e.groupBy("partition")
        .applyInPandas(
            ffd,
            "partition string, group_id string, input_paths array<string>, "
            "input_bytes long, input_records long, input_dvs string",
        )
        .collect()
    )
    groups = [
        FileGroup(
            group_id=r["group_id"],
            partition=json.loads(r["partition"]),
            input_paths=list(r["input_paths"]),
            input_bytes=r["input_bytes"],
            input_records=r["input_records"],
            input_dvs=json.loads(r["input_dvs"] or "{}"),
        )
        for r in rows
    ]
    groups.sort(key=lambda g: (json.dumps(g.partition, sort_keys=True), g.group_id))
    return groups


def plan_auto(
    spark: SparkSession,
    table: Table,
    include_all: bool = False,
    min_group_files: int = 2,
) -> list[FileGroup]:
    """Driver FFD for small manifests, distributed over entries_df beyond
    the table's planning threshold (:meth:`Table.plans_distributed`)."""
    if table.plans_distributed():
        return plan_compaction_distributed(spark, table, include_all, min_group_files)
    return plan_compaction(table, include_all, min_group_files)


def execute_compaction(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    groups: list[FileGroup] | None = None,
    job_id: str | None = None,
    sort_columns: list[str] | None = None,
    test_fail_after_written: int | None = None,
) -> dict:
    """Execute a compaction plan with checkpointed, resumable commits.

    The returned dict carries a ``phases`` timing breakdown (plan/write/
    publish/commit seconds plus summed task timers) so scaling regressions
    are attributable to a phase, not guessed at.
    """
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table", "groups": 0}
    job = Job(sys_tables, "compact", table, table_name, job_id, snap.snapshot_id)
    with job.phase("plan"):
        if groups is None:
            groups = plan_auto(spark, table)
    if not groups:
        return {"status": "healthy", "groups": 0}
    if job.committed([g.group_id for g in groups]):
        return {"status": "already-committed", "job_id": job.job_id, "groups": len(groups)}

    # outputs of previously-written groups come back from their checkpoint rows
    written_entries = job.written_outputs()
    pending = [g for g in groups if g.group_id not in written_entries]

    def _group(g: FileGroup, **extra) -> dict:
        return {
            "partition_id": json.dumps(g.partition, sort_keys=True),
            "file_group_id": g.group_id,
            "input_files": g.input_paths,
            **extra,
        }

    job.mark("planned", [_group(g, rows=g.input_records, bytes=g.input_bytes) for g in pending])

    if pending:
        rw = StagedRewrite.begin(spark, table)
        sort_cols = sort_columns or [
            f.column for f in table.sort_order.fields if f.column in table.schema.fieldNames()
        ]
        # ONE Spark job, ZERO shuffles: one task per group spec (tiny
        # metadata rows, never the data) reads the group's files, sorts by
        # the table sort order and writes ONE output file. LPT order:
        # largest groups first, so the last scheduling wave holds the
        # smallest tasks.
        by_size = sorted(pending, key=lambda g: (-g.input_bytes, g.group_id))
        spec_rows = [
            (
                g.group_id,
                [os.path.join(rw.root, p) for p in g.input_paths],
                [dv_spec(rw.root, p, g.input_dvs.get(p, [])) for p in g.input_paths],
            )
            for g in by_size
        ]

        def _rewrite(recs):
            import pyarrow as _pa

            for rec in recs:
                tr = time.time()
                paths, dvs = list(rec["paths"]), list(rec["dvs"])
                # DV-free files stream through ONE overlapped dataset scan;
                # DV-laden files keep the per-file read because positional
                # tombstones index rows within ONE file
                dv_free = [p for p, dv in zip(paths, dvs) if not dv]
                parts = [mf.read_tables_overlapped(dv_free, rw.arrow_schema)] if dv_free else []
                parts += [rw.read_live(p, dv) for p, dv in zip(paths, dvs) if dv]
                tbl = parts[0] if len(parts) == 1 else _pa.concat_tables(parts)
                ts_ = time.time()
                if sort_cols:
                    tbl = tbl.sort_by([(c, "ascending") for c in sort_cols])
                tw = time.time()
                row = rw.write(tbl, f"{rec['group_id']}.parquet")
                yield {**row, "group_id": rec["group_id"], "t_read": ts_ - tr, "t_sort": tw - ts_}

        with job.phase("write"):
            job_stats = {
                r["group_id"]: r
                for r in tasks_df(
                    spark, spec_rows, _rewrite,
                    "group_id string, " + STATS_SCHEMA
                    + ", t_read double, t_sort double, t_write double, t_stats double",
                    spec_schema="group_id string, paths array<string>, dvs array<string>",
                    io_threads=2,
                ).collect()
            }
            job.task_totals(
                "task_totals", job_stats.values(), ("t_read", "t_sort", "t_write", "t_stats")
            )
        missing = {g.group_id for g in pending} - set(job_stats)
        if missing:
            # a group without a rewrite result must fail the job, not
            # silently drop its input files from the replace commit
            raise RuntimeError(f"compaction job returned no output for groups {sorted(missing)[:5]}")
        with job.phase("publish"):
            # per-group 'written' rows: the resume granularity
            for n_written, g in enumerate(pending, 1):
                entries = [rw.publish_file(job_stats[g.group_id], g.partition)]
                written_entries[g.group_id] = entries
                job.mark("written", [_group(
                    g,
                    output_files=[e.path for e in entries],
                    rows=sum(e.record_count for e in entries),
                    bytes=sum(e.size_bytes for e in entries),
                    extra={"entries": [e.to_row() for e in entries]},
                )])
                if test_fail_after_written is not None and n_written >= test_fail_after_written:
                    raise InjectedFailure(f"injected failure after {n_written} written groups")
            rw.discard()

    # single replace-snapshot commit covering every group
    removed = {p for g in groups for p in g.input_paths}
    added = [e for g in groups for e in written_entries.get(g.group_id, [])]
    with job.phase("commit"):
        # plan-time DV counts per input: the rewrite tasks absorbed exactly
        # these tombstone sets, so a concurrent delete landing after planning
        # must conflict (commit_replace raises) rather than be silently dropped
        table.commit_replace(
            removed,
            added,
            operation="replace",
            summary={"job": job.job_id, "op": "compact"},
            expected_dv_counts={
                p: len(g.input_dvs.get(p, [])) for g in groups for p in g.input_paths
            },
        )
    total_rows = sum(e.record_count for e in added)
    total_bytes = sum(e.size_bytes for e in added)
    done = job.finish(
        files_before=len(removed),
        files_after=len(added),
        bytes_before=sum(g.input_bytes for g in groups),
        bytes_after=total_bytes,
        rows=total_rows,
        groups=[
            _group(g, output_files=[e.path for e in written_entries.get(g.group_id, [])])
            for g in groups
        ],
    )
    return {
        "status": "committed",
        "job_id": done["job_id"],
        "groups": len(groups),
        "files_removed": len(removed),
        "files_added": len(added),
        "rows": total_rows,
        "bytes": total_bytes,
        **done,
    }
