"""Staged-rewrite kernel: the one pipeline behind every op that rewrites
data files — compaction, clustering, incremental clustering, MERGE
(copy-on-write) and UPDATE.

An op keeps only what is specific to it (planning, curve keys, bucket
routing, the survivor filter, the SET projection, its row-count guards
and its commit); the pipeline around that logic lives here once:

  specs    driver-built metadata dicts — one per input file
           (:func:`file_spec`) or one per output group, each weighted by
           the bytes (or rows) it will move.
  tasks    :func:`tasks_rdd` is the one task runner and the one place the
           fan-out rule (:func:`pack_tasks`) applies: a job runs one wave
           of at most ``defaultParallelism`` one-core tasks, specs packed
           largest-first onto the least-loaded task, each task one
           partition of a single Python stage (no DataFrame, no pandas at
           the boundary). Each task keeps one Arrow CPU thread and one I/O
           thread and returns small metadata dicts, never payload.
  read     :func:`read_live` — one input file null-filled to the table
           schema (additive evolution) with its delete vectors applied, so
           every rewrite absorbs merge-on-read tombstones.
  route    :class:`FragmentRouter` / :func:`read_fragments` — the file-level
           shuffle of two-phase rewrites: map tasks write per-bucket lz4
           fragments, reduce tasks read the committed fragments of one
           bucket, or of several in one scan.
  write    :meth:`StagedRewrite.write` — attempt-unique ``.inprogress`` tmp,
           atomic rename, footer stats and blooms, one stats row
           (:data:`STATS_SCHEMA`). A dead or speculative task attempt can
           never leave a partial file under a final name.
  publish  :meth:`StagedRewrite.publish` — the driver moves each staged file
           into its Hive partition dir under a uuid-prefixed name, builds its
           manifest entry and drops the staging dir. A job that dies before
           publishing leaves only ``<root>/_staging/<uuid>``, which the
           orphan sweep reclaims.

The op then commits (``commit_replace`` with its own guards) under its
job ledger (maintenance/checkpoint.py), which records states, phases and
lineage.
"""

from __future__ import annotations

import glob
import heapq
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from ..core import manifests as mf
from ..core.dv import apply_delete_vectors

# columns of the row StagedRewrite.write returns, for the one Catalyst
# writer (UPDATE's applyInArrow) that needs them as a schema
STATS_SCHEMA = (
    "file string, size_bytes long, record_count long, lower_bounds string, "
    "upper_bounds string, null_counts string, blooms string"
)

# a router flushes a bucket's accumulated rows once they exceed this, which
# bounds map-task memory on huge partitions
FLUSH_BYTES = 256 * 1024 * 1024


def parquet_codec(spark) -> str:
    """Spark's parquet codec name, spelled the way pyarrow expects it."""
    codec = str(spark.conf.get("spark.sql.parquet.compression.codec", "snappy")).lower()
    return {"uncompressed": "none", "lz4raw": "lz4"}.get(codec, codec)


def dv_spec(root: str, rel: str, dv_rels: list[str]) -> str:
    """Delete-vector spec of one data file: JSON ``{"rel", "dvs": [abs DV
    paths]}``, or "" for a file without tombstones."""
    if not dv_rels:
        return ""
    return json.dumps({"rel": rel, "dvs": [os.path.join(root, d) for d in dv_rels]})


def file_spec(root: str, e: mf.ManifestEntry) -> dict:
    """One input file as a spec: abs data ``path``, partition json
    ``pkey`` and delete-vector spec ``dv``."""
    return {
        "path": os.path.join(root, e.path),
        "pkey": json.dumps(e.partition, sort_keys=True),
        "dv": dv_spec(root, e.path, [d["path"] for d in e.deletes]),
    }


def pack_tasks(weights: list[int], parallelism: int) -> list[list[int]]:
    """The fan-out rule: spec indices packed into min(N, ``parallelism``)
    tasks. Specs go largest-first, each onto the least-loaded task (ties:
    fewest specs, then lowest task), so no task's load exceeds another's
    by more than the largest weight and every task gets at least one spec.
    Pure and deterministic: a retried attempt sees the same specs."""
    n_tasks = min(len(weights), max(1, parallelism))
    tasks: list[list[int]] = [[] for _ in range(n_tasks)]
    heap = [(0, 0, t) for t in range(n_tasks)]
    for i in sorted(range(len(weights)), key=lambda i: (-weights[i], i)):
        load, n, t = heapq.heappop(heap)
        tasks[t].append(i)
        heapq.heappush(heap, (load + max(0, weights[i]), n + 1, t))
    return tasks


def tasks_rdd(spark, specs, fn, weights: list[int] | None = None):
    """RDD of what ``fn`` returns, run once per task over metadata specs,
    in one wave of at most ``defaultParallelism`` tasks and one Python
    stage.

    ``specs`` is a list of dicts, packed onto tasks by :func:`pack_tasks`
    over ``weights`` (default: uniform) so that Spark partition t runs
    exactly task t's specs, or a DataFrame (the distributed planning
    routes), repartitioned round-robin to the same core count. ``fn`` gets
    an iterator over the task's specs as dicts and returns its output
    records (small metadata, never payload), which come back as they
    are."""

    def task(recs):
        import pyarrow as pa

        # one Arrow CPU and one I/O thread per one-core task: the default
        # per-process pools (= machine cpu count) times the worker count
        # thrash the cpuset, and the one I/O thread is what overlaps
        # prefetch with decode (BENCH/TASK_CONTENTION.md)
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        return fn(recs)

    sc = spark.sparkContext
    cores = int(sc.defaultParallelism)
    if isinstance(specs, list):
        packed = pack_tasks(weights or [1] * len(specs), cores)
        # one element per slice, so partition t holds exactly task t's specs
        return sc.parallelize(
            [[specs[i] for i in t] for t in packed], max(len(packed), 1)
        ).mapPartitions(lambda ts: task(s for t in ts for s in t))
    return specs.repartition(cores).rdd.mapPartitions(
        lambda rows: task(r.asDict() for r in rows)
    )


def read_live(path: str, dv: str, arrow_schema, columns: list[str] | None = None):
    """Live rows of one data file: null-filled to ``arrow_schema`` with the
    delete vectors of ``dv`` (from :func:`dv_spec`) applied; ``columns``
    prunes the read, e.g. to key columns."""
    tbl = mf.read_table_nullfill(path, arrow_schema, columns=columns)
    if dv:  # positions index the full file, so apply after the read
        d = json.loads(dv)
        tbl = apply_delete_vectors(tbl, d["rel"], d["dvs"])
    return tbl


def _write_atomic(tbl, dest: str, codec: str) -> None:
    import pyarrow.parquet as pq

    tmp = f"{dest}.{os.getpid()}.inprogress"  # attempt-unique
    pq.write_table(tbl, tmp, compression=codec)
    os.rename(tmp, dest)


@dataclass
class StagedRewrite:
    """One staged rewrite of a table: the paths and write settings its
    tasks need. Picklable — it ships inside the task closures."""

    root: str
    data_dir: str
    staging: str
    codec: str
    arrow_schema: object
    stats_cols: set | None
    bloom_cols: list

    @classmethod
    def begin(cls, spark, table, extra_stats: set | None = None) -> "StagedRewrite":
        """Open a fresh staging dir. ``extra_stats`` adds footer-stat columns
        outside the table schema (the clustering key)."""
        stats = table.stats_columns()
        if extra_stats:
            stats = (stats or set()) | extra_stats
        return cls(
            root=table.root,
            data_dir=table.data_dir,
            staging=table._stage_dir(),
            codec=parquet_codec(spark),
            arrow_schema=mf.spark_to_arrow_schema(table.schema),
            stats_cols=stats,
            bloom_cols=table.bloom_columns,
        )

    # ---- task side ---------------------------------------------------------
    def read_live(self, path: str, dv: str = "", columns: list[str] | None = None):
        """:func:`read_live` against the table schema."""
        return read_live(path, dv, self.arrow_schema, columns)

    def write(self, tbl, name: str) -> dict:
        """Write one output file into staging; returns its stats row plus
        ``t_write`` (encode + rename) and ``t_stats`` seconds."""
        tw = time.time()
        dest = os.path.join(self.staging, name)
        _write_atomic(tbl, dest, self.codec)
        ts = time.time()
        st = mf.footer_stats(dest, self.stats_cols)
        return {
            "file": name,
            "size_bytes": os.path.getsize(dest),
            "record_count": st["record_count"],
            "lower_bounds": json.dumps(st["lower_bounds"], default=str),
            "upper_bounds": json.dumps(st["upper_bounds"], default=str),
            "null_counts": json.dumps(st["null_counts"]),
            "blooms": json.dumps(mf.build_blooms(tbl, self.bloom_cols)),
            "t_write": ts - tw,
            "t_stats": time.time() - ts,
        }

    # ---- driver side -------------------------------------------------------
    def publish_file(self, r, partition: dict) -> mf.ManifestEntry:
        """Move one staged output (a stats row) into its partition dir."""
        pdir = "/".join(f"{k}={v}" for k, v in sorted(partition.items()))
        destdir = os.path.join(self.data_dir, pdir) if pdir else self.data_dir
        os.makedirs(destdir, exist_ok=True)
        dest = os.path.join(destdir, f"{uuid.uuid4().hex[:8]}-{r['file']}")
        os.rename(os.path.join(self.staging, r["file"]), dest)
        return mf.ManifestEntry(
            path=os.path.relpath(dest, self.root),
            partition=partition,
            size_bytes=r["size_bytes"],
            record_count=r["record_count"],
            lower_bounds=json.loads(r["lower_bounds"]),
            upper_bounds=json.loads(r["upper_bounds"]),
            null_counts=json.loads(r["null_counts"]),
            blooms=json.loads(r["blooms"]),
        )

    def publish(self, rows, partition_of) -> list[mf.ManifestEntry]:
        """Publish every staged output, then drop the staging dir."""
        entries = [self.publish_file(r, partition_of(r)) for r in rows]
        self.discard()
        return entries

    def discard(self) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class FragmentRouter:
    """Map side of a two-phase rewrite, one per task. Rows accumulate per
    bucket across ALL of the task's input files and flush as lz4 fragments
    ``<shuffle_dir>/b<bucket>/t<task>_<n>.parquet`` (fragments are
    intermediate: the cheapest codec wins), so fragment count is
    #tasks × #buckets, not #files × #buckets. Flush order is deterministic
    within a Spark partition, so a retried attempt rewrites the same names."""

    def __init__(self, shuffle_dir: str):
        from pyspark import TaskContext

        self.dir = shuffle_dir
        self.task = TaskContext.get().partitionId()
        self.acc: dict[int, list] = {}
        self.acc_bytes: dict[int, int] = {}
        self.flushes: dict[int, int] = {}
        self.rows: dict[int, int] = {}  # bucket → rows routed
        self.t_write = 0.0

    def route(self, tbl, codes, bucket_of) -> None:
        """Send each row of ``tbl`` to ``bucket_of(code)`` of its code."""
        import numpy as np
        import pyarrow as pa

        for c in np.unique(codes):
            b = bucket_of(int(c))
            part = tbl.filter(pa.array(codes == c))
            self.acc.setdefault(b, []).append(part)
            self.rows[b] = self.rows.get(b, 0) + len(part)
            self.acc_bytes[b] = self.acc_bytes.get(b, 0) + part.nbytes
            if self.acc_bytes[b] >= FLUSH_BYTES:
                self._flush(b)

    def close(self) -> None:
        for b in list(self.acc):
            self._flush(b)

    def _flush(self, b: int) -> None:
        import pyarrow as pa

        parts = self.acc.pop(b, [])
        if not parts:
            return
        tw = time.time()
        bdir = os.path.join(self.dir, f"b{b}")
        os.makedirs(bdir, exist_ok=True)
        n = self.flushes.get(b, 0)
        self.flushes[b] = n + 1
        tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        _write_atomic(tbl, os.path.join(bdir, f"t{self.task}_{n}.parquet"), "lz4")
        self.acc_bytes[b] = 0
        self.t_write += time.time() - tw


def read_fragments(shuffle_dir: str, buckets: list[int]):
    """The committed fragments of ``buckets`` as one table (None if they have
    none), in bucket order, then fragment-name order within a bucket, read
    through one overlapped scan. Only final names are read: a dead
    attempt's ``.inprogress`` tmp is never ingested."""
    frags = [
        f
        for b in buckets
        for f in sorted(glob.glob(os.path.join(shuffle_dir, f"b{b}", "*.parquet")))
    ]
    return mf.read_tables_overlapped(frags) if frags else None

