"""T2 — size-tiered bin-packing compaction, EXECUTED (not simulated).

The reference stops at simulation: estimated_files_after =
total_size // 256 MB, "would require rewrite" (ops/maintenance_system.py:
115-166). Here the plan is executed as one Spark job + a driver commit:

  plan   : per-partition first-fit-decreasing of small files into bins of
           ≤ target file size (driver, manifest-only — same split as the
           reference's metadata-only planner, §3.3).
  execute: ONE distributed job, ZERO shuffles, O(1) driver plan, run on
           the staged-rewrite kernel (maintenance/rewrite.py owns the read,
           the staged write, the stats and the publish). Group specs are
           packed by input bytes onto one wave of one-core tasks (the
           kernel's fan-out rule); per group a task reads the group's
           files, sorts by the table sort order and writes ONE
           ≈target-size file — Iceberg's binpack shape, independent groups
           with perfect locality. The driver publishes group-by-group with
           checkpoint rows (planned → written) and commits ONE
           replace-snapshot at the end (written → committed).
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
from .rewrite import StagedRewrite, dv_spec, tasks_rdd


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


def pack_groups(
    partition: dict,
    files: list[tuple[str, int, int, list[str]]],
    target: int,
    min_group_files: int,
) -> list[FileGroup]:
    """First-fit-decreasing of one partition's candidate files — (rel path,
    size bytes, live rows, rel DV paths) — into groups of ≤ ``target``
    bytes. Deterministic: files sort by (size desc, path), and a group's id
    hashes its members, which is what makes resume after a crash find its
    groups. A bin below ``min_group_files`` is dropped unless it holds a
    tombstoned file (a lone one still needs its rewrite to absorb them)."""
    bins: list[list[tuple[str, int, int, list[str]]]] = []
    bin_sizes: list[int] = []
    for f in sorted(files, key=lambda f: (-f[1], f[0])):
        for i, sz in enumerate(bin_sizes):
            if sz + f[1] <= target:
                bins[i].append(f)
                bin_sizes[i] += f[1]
                break
        else:
            bins.append([f])
            bin_sizes.append(f[1])
    groups = []
    for b in bins:
        dvs = {path: dv for path, _, _, dv in b if dv}
        if len(b) < min_group_files and not dvs:
            continue
        paths = [path for path, _, _, _ in b]
        groups.append(
            FileGroup(
                group_id=_group_id(paths, dvs),
                partition=partition,
                input_paths=paths,
                input_bytes=sum(size for _, size, _, _ in b),
                input_records=sum(live for _, _, live, _ in b),
                input_dvs=dvs,
            )
        )
    return groups


def plan_compaction(
    table: Table,
    include_all: bool = False,
    min_group_files: int = 2,
) -> list[FileGroup]:
    """First-fit-decreasing bin packing of small files, per partition
    (:func:`pack_groups`).

    Only files below the small-file cutoff are candidates (reference
    threshold ops/maintenance_system.py:58) unless include_all; bins cap
    at the 256 MB target (:139).
    """
    by_partition: dict[str, list[mf.ManifestEntry]] = {}
    for e in table.live_entries():
        # tombstoned files are rewrite candidates regardless of size: the
        # rewrite absorbs their delete vectors (Iceberg rewrite_data_files
        # delete-threshold behavior)
        if include_all or e.size_bytes < table.small_file_bytes or e.deletes:
            by_partition.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)
    return [
        g
        for pkey in sorted(by_partition)
        for g in pack_groups(
            by_partition[pkey][0].partition,
            [
                (e.path, e.size_bytes, e.live_count, [d["path"] for d in e.deletes])
                for e in by_partition[pkey]
            ],
            table.target_file_size,
            min_group_files,
        )
    ]


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
        part = pdf["partition"].iloc[0] if len(pdf) else "{}"
        files = []
        for path, size, records, deletes in zip(
            pdf["path"], pdf["size_bytes"], pdf["record_count"], pdf["deletes"]
        ):
            dels = json.loads(deletes or "[]")
            live = int(records) - sum(int(d["count"]) for d in dels)
            files.append((path, int(size), live, [d["path"] for d in dels]))
        groups = pack_groups(json.loads(part), files, target, min_group_files)
        return pd.DataFrame(
            [
                (part, g.group_id, g.input_paths, g.input_bytes, g.input_records,
                 json.dumps(g.input_dvs, sort_keys=True))
                for g in groups
            ],
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
        # ONE Spark job, ZERO shuffles: group specs (tiny metadata rows,
        # never the data) packed by input bytes onto one wave of one-core
        # tasks; per group a task reads the group's files, sorts by the
        # table sort order and writes ONE output file.
        spec_rows = [
            {
                "group_id": g.group_id,
                "paths": [os.path.join(rw.root, p) for p in g.input_paths],
                "dvs": [dv_spec(rw.root, p, g.input_dvs.get(p, [])) for p in g.input_paths],
            }
            for g in pending
        ]

        def _rewrite(recs):
            import pyarrow as _pa

            for rec in recs:
                tr = time.time()
                paths, dvs = rec["paths"], rec["dvs"]
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
                for r in tasks_rdd(
                    spark, spec_rows, _rewrite, [g.input_bytes for g in pending]
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
