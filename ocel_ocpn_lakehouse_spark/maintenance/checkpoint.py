"""Checkpoint + lineage tables (FIXTURES.md §2.2/§2.3, north rule K3/K4),
written through one job ledger.

Every committing maintenance op — compact, cluster, incremental cluster,
MERGE, UPDATE, DELETE, partition-spec evolution and snapshot expiry —
runs under a :class:`Job`. The ledger owns what used to be spelled out
per op: the job id, the already-committed check, the file-group state
transitions (planned → written → committed), the phase timer, and
:meth:`Job.finish`, which writes the ``committed`` checkpoint row and ONE
lineage row per job carrying the op's ``phases`` record (JSON). A killed
job resumes idempotently: groups recorded 'written' skip the rewrite, a
job whose groups are all 'committed' is a no-op — the snapshot is never
re-committed.

Storage: append-only Parquet fragments under ``<warehouse>/_system/``,
one tiny file per state change (atomic rename), named
``<sha1(job_id)[:16]>-<ms>-<hex8>.parquet``. A job's state read globs its
own prefix, so job start costs O(that job's fragments), not O(history).
Readers take the latest state per (job_id, file_group_id). Fragments are
never compacted; their retention is open work (ROADMAP direction 3).

Reference analog: the scheduler's stats persistence
(ops/view_refresh_scheduler.py:184-201) and the staged-commit flow
(ops/commit_staged_files.py:47-88), upgraded from "report file" to a
real exactly-once mechanism.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from ..core import manifests as mf

CHECKPOINT_SCHEMA = pa.schema(
    [
        pa.field("job_id", pa.string()),
        pa.field("op", pa.string()),
        pa.field("table_name", pa.string()),
        pa.field("partition_id", pa.string()),
        pa.field("file_group_id", pa.string()),
        pa.field("state", pa.string()),  # planned | written | committed
        pa.field("input_files", pa.list_(pa.string())),
        pa.field("output_files", pa.list_(pa.string())),
        pa.field("rows", pa.int64()),
        pa.field("bytes", pa.int64()),
        pa.field("extra", pa.string()),  # JSON payload (e.g. output entry stats)
        pa.field("updated_at_ms", pa.int64()),
    ]
)

LINEAGE_SCHEMA = pa.schema(
    [
        pa.field("job_id", pa.string()),
        pa.field("op", pa.string()),
        pa.field("table_name", pa.string()),
        pa.field("partition_id", pa.string()),
        pa.field("files_before", pa.int64()),
        pa.field("files_after", pa.int64()),
        pa.field("bytes_before", pa.int64()),
        pa.field("bytes_after", pa.int64()),
        pa.field("rows", pa.int64()),
        pa.field("duration_ms", pa.int64()),
        pa.field("throughput_rows_s", pa.float64()),
        pa.field("throughput_bytes_s", pa.float64()),
        pa.field("phases", pa.string()),  # JSON: the op result's phases
        pa.field("updated_at_ms", pa.int64()),
    ]
)


def _job_key(job_id: str) -> str:
    """Fragment-name prefix of a job."""
    return hashlib.sha1(job_id.encode()).hexdigest()[:16]


class SystemTables:
    def __init__(self, warehouse: str):
        self.checkpoint_dir = os.path.join(warehouse, "_system", "checkpoint")
        self.lineage_dir = os.path.join(warehouse, "_system", "lineage")
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    def _write(self, directory: str, schema: pa.Schema, job: "Job", rows: list[dict]) -> None:
        """One fragment of ``rows``, stamped with the job's identity."""
        if not rows:
            return
        now = int(time.time() * 1000)
        stamp = {"job_id": job.job_id, "op": job.op, "table_name": job.table_name,
                 "updated_at_ms": now}
        rows = [{**r, **stamp} for r in rows]
        table = pa.Table.from_pydict(
            {f.name: [r.get(f.name) for r in rows] for f in schema}, schema=schema
        )
        name = f"{_job_key(job.job_id)}-{now}-{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(directory, name)
        pq.write_table(table, path + ".tmp", compression="snappy")
        os.rename(path + ".tmp", path)

    def group_states(self, job_id: str) -> dict[str, dict]:
        """Latest checkpoint row per file_group_id for a job; opens only
        that job's fragments."""
        latest: dict[str, dict] = {}
        pattern = os.path.join(self.checkpoint_dir, f"{_job_key(job_id)}-*.parquet")
        for f in sorted(glob.glob(pattern)):
            for r in pq.read_table(f).to_pylist():
                if r["job_id"] != job_id:  # prefix collision
                    continue
                g = r["file_group_id"]
                if g not in latest or r["updated_at_ms"] >= latest[g]["updated_at_ms"]:
                    latest[g] = r
        return latest

    def lineage_rows(self) -> list[dict]:
        out: list[dict] = []
        for f in sorted(glob.glob(os.path.join(self.lineage_dir, "*.parquet"))):
            out.extend(pq.read_table(f).to_pylist())
        return out


class Job:
    """The ledger of one committing maintenance op.

    Resumable rewrites (compact, cluster, cluster-incr) name the job after
    the snapshot they plan against, so a rerun on an unchanged table finds
    its earlier states; every other op is named after the snapshot it
    commits (or, committing none, its start second) at :meth:`finish`.
    Without ``sys_tables`` the ledger only times phases.

    Groups are dicts of ``file_group_id``, ``partition_id``, ``input_files``
    and optionally ``output_files``/``rows``/``bytes``/``extra``; an op that
    rewrites the table as one unit describes its single ``<op>-all`` group
    by keyword instead (``input_files=…, rows=…``).
    """

    def __init__(self, sys_tables: SystemTables | None, op: str, table, table_name: str = "",
                 job_id: str | None = None, snapshot_id: int | None = None):
        self.sys = sys_tables
        self.op = op
        self.table_name = table_name
        self._prefix = f"{op}-{table.md.table_uuid[:8]}"
        if job_id is None and snapshot_id is not None:
            job_id = f"{self._prefix}-snap{snapshot_id}"
        self.job_id = job_id
        self.t0 = time.time()
        self.phases: dict[str, float | dict] = {}
        self._states: dict[str, dict] | None = None

    # ---- timing -------------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        t = time.time()
        yield
        self.phases[name] = time.time() - t

    def task_totals(self, name: str, rows, timers) -> None:
        """Summed task-side timers (cross-task concurrency means these exceed
        wall time; ratios localize where per-task time goes)."""
        self.phases[name] = {k: round(sum(r[k] for r in rows), 2) for k in timers}

    # ---- state --------------------------------------------------------------
    def states(self) -> dict[str, dict]:
        if self._states is None:
            self._states = self.sys.group_states(self.job_id) if self.sys else {}
        return self._states

    def committed(self, group_ids=None) -> bool:
        """True iff every group (default: the whole-job group) is committed."""
        states = self.states()
        return all(
            states.get(g, {}).get("state") == "committed" for g in group_ids or [f"{self.op}-all"]
        )

    def written_outputs(self) -> dict[str, list[mf.ManifestEntry]]:
        """Output entries of groups an earlier attempt already wrote — the
        groups a resumed job skips."""
        return {
            gid: [mf.ManifestEntry.from_row(r)
                  for r in json.loads(s.get("extra") or "{}").get("entries", [])]
            for gid, s in self.states().items()
            if s["state"] in ("written", "committed")
        }

    def mark(self, state: str, groups: list[dict] | None = None, **whole) -> None:
        """Record ``state`` for ``groups`` as one fragment."""
        if self.sys is None:
            return
        if groups is None:
            groups = [{"file_group_id": f"{self.op}-all", **whole}]
        rows = [
            {
                "partition_id": g.get("partition_id", "*"),
                "file_group_id": g["file_group_id"],
                "state": state,
                "input_files": list(g.get("input_files", [])),
                "output_files": list(g.get("output_files", [])),
                "rows": g.get("rows", 0),
                "bytes": g.get("bytes", 0),
                "extra": json.dumps(g.get("extra") or {}, default=str),
            }
            for g in groups
        ]
        self.sys._write(self.sys.checkpoint_dir, CHECKPOINT_SCHEMA, self, rows)

    def finish(self, files_before: int = 0, files_after: int = 0, bytes_before: int = 0,
               bytes_after: int = 0, rows: int = 0, groups: list[dict] | None = None,
               snapshot_id: int | None = None, **whole) -> dict:
        """Close the job: the 'committed' checkpoint fragment (``groups``, or
        the whole-job group) and the lineage row with the phases. Returns
        ``job_id``, ``duration_ms`` and rounded ``phases`` for the result."""
        dur_ms = int((time.time() - self.t0) * 1000)
        if self.job_id is None:
            suffix = f"snap{snapshot_id}" if snapshot_id is not None else str(int(self.t0))
            self.job_id = f"{self._prefix}-{suffix}"
        phases = {k: round(v, 3) if isinstance(v, float) else v for k, v in self.phases.items()}
        if self.sys is not None:
            self.mark("committed", groups, **{"rows": rows, "bytes": bytes_after, **whole})
            secs = dur_ms / 1000
            self.sys._write(self.sys.lineage_dir, LINEAGE_SCHEMA, self, [{
                "partition_id": "*",
                "files_before": files_before,
                "files_after": files_after,
                "bytes_before": bytes_before,
                "bytes_after": bytes_after,
                "rows": rows,
                "duration_ms": dur_ms,
                "throughput_rows_s": rows / secs if dur_ms else 0.0,
                "throughput_bytes_s": bytes_before / secs if dur_ms else 0.0,
                "phases": json.dumps(phases),
            }])
        return {"job_id": self.job_id, "duration_ms": dur_ms, "phases": phases}
