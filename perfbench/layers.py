"""Per-layer tracing, done entirely from the benchmark's side.

Two sources, both read only in a traced run:

* :class:`Tracer` wraps a handful of the engine's public functions (table
  commits and scan planning, manifest and metadata reads, checkpoint state
  reads) for the duration of a traced round and records each call's wall
  time. Only calls made inside a timed operation are kept. The wrappers are
  removed again after the round, so untraced rounds run the engine as is.
* :func:`read_event_log` parses Spark's own event log (task run, scheduler
  delay, deserialisation and GC time, shuffle bytes) and groups tasks by the
  job group each timed operation sets.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

from ocel_ocpn_lakehouse_spark.core import manifests as mf
from ocel_ocpn_lakehouse_spark.core import metadata as meta
from ocel_ocpn_lakehouse_spark.core.table import Table
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables


def _metadata_bytes(args, kwargs, md) -> int:
    root = args[0] if args else kwargs["table_root"]
    return os.path.getsize(meta._version_path(root, md.version))


def _checkpoint_fragments(args, kwargs, _) -> int:
    return len(glob.glob(os.path.join(args[0].checkpoint_dir, "*.parquet")))


# (owner, attribute, span name, extra-count function or None)
TARGETS = [
    (Table, "commit_append", "table.commit_append", None),
    (Table, "commit_replace", "table.commit_replace", None),
    (Table, "commit_delete_vectors", "table.commit_dv", None),
    (Table, "commit_overwrite", "table.commit_overwrite", None),
    (Table, "scan", "table.scan_plan", None),
    (Table, "live_entries", "table.live_entries", None),
    (mf, "read_manifest", "manifests.read", None),
    (meta, "load_metadata", "metadata.load", _metadata_bytes),
    (SystemTables, "group_states", "checkpoint.group_states", _checkpoint_fragments),
]

COMMITS = ("table.commit_append", "table.commit_replace", "table.commit_dv",
           "table.commit_overwrite")


class Tracer:
    """Call spans of wrapped engine functions: name -> [(round, secs, extra)]."""

    def __init__(self):
        self.spans: dict[str, list[tuple[int, float, float]]] = defaultdict(list)
        self.round = 0
        self.in_op = False
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, owner, attr: str, name: str, extra) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.in_op:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            dt = time.perf_counter() - t0
            x = extra(args, kwargs, out) if extra else 0
            tracer.spans[name].append((tracer.round, dt, x))
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self, round_no: int) -> None:
        self.round = round_no
        for owner, attr, name, extra in TARGETS:
            self._wrap(owner, attr, name, extra)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """Parse Spark's JSON event log.

    Returns ``(jobs, stage_tasks)``: ``jobs`` maps job id to its group,
    submit/end epoch seconds and stage ids; ``stage_tasks`` maps stage id to
    summed task accounting.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = [p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    s = stages[ev["Stage ID"]]
                    run = m.get("Executor Run Time", 0)
                    deser = m.get("Executor Deserialize Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    other = (m.get("Result Serialization Time", 0)
                             + (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
                                if info.get("Getting Result Time") else 0))
                    s["tasks"] += 1
                    s["task_run_s"] += run / 1000
                    s["deserialize_s"] += deser / 1000
                    s["sched_delay_s"] += max(dur - run - deser - other, 0) / 1000
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    s["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
    return jobs, stages


SPARK_KEYS = ("tasks", "task_run_s", "sched_delay_s", "deserialize_s", "gc_s",
              "shuffle_write_bytes")


def group_totals(jobs: dict, stages: dict) -> dict[str, dict]:
    """Task accounting summed per job group (each stage counted once)."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    seen: set[int] = set()
    for job_id in sorted(jobs):
        job = jobs[job_id]
        for sid in job["stages"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k in SPARK_KEYS:
                out[job["group"]][k] += stages[sid][k]
    return out


def tasks_in_window(jobs: dict, stages: dict, group: str, lo: float, hi: float) -> int:
    """Tasks of ``group``'s jobs whose midpoint lies in the epoch window."""
    n = 0
    for job in jobs.values():
        if job["group"] != group or job["end"] is None:
            continue
        if lo <= (job["submit"] + job["end"]) / 2 <= hi:
            n += sum(int(stages[s]["tasks"]) for s in job["stages"] if s in stages)
    return n
