"""Spark Data Source integration: lakehouse tables behind the four verbs.

    spark.dataSource.register(LakehouseDataSource)
    spark.read.format("lakehouse").load(root)                 # batch scan
    spark.readStream.format("lakehouse").load(root)           # incremental
    df.write.format("lakehouse").mode(...).save(root)         # append/overwrite
    df.writeStream.format("lakehouse").option("path", root)   # exactly-once

Built on PySpark 4's Python Data Source API (pyspark.sql.datasource), so a
user who knows only Spark's reader/writer surface — not this package's
``Table`` API — gets manifest-pruned scans, MoR tombstone application,
snapshot-incremental streaming, and atomic snapshot commits. Reference
analog: the reference reaches its tables exclusively through the engine's
Spark source (``spark.read.format(...)`` over Iceberg,
ingest/production_bootstrap.py), which is exactly this surface.

Scale shape:

* **Planning** (``partitions()``) runs once on the driver, like Spark's own
  ``InMemoryFileIndex`` — but AFTER manifest pruning, so a pruned-out file
  never becomes driver state. Pushed filters (``pushFilters``) translate to
  the same :class:`PrunePredicate` bounds/partition/Bloom checks the native
  ``Table.scan`` uses; every filter is also handed back to Spark, which
  re-evaluates it row-level (Iceberg's residual model — file pruning is a
  superset guarantee, not row filtering).
* **Reads** stream Arrow record batches straight from the Parquet column
  reader to Spark — no Python row loop, one task per packed split of
  ``read.split-target-bytes`` (files pack greedily, so 10^5 small files do
  not become 10^5 tasks).
* **Writes** produce per-task commit messages carrying footer stats +
  Bloom filters computed EXECUTOR-side right after the file is written; the
  driver's commit is pure metadata (O(#files) dicts), never re-opening a
  data file. A failed job aborts by unlinking its own files; a crash
  before commit leaves orphans for the maintenance sweep (same recovery
  contract as ``Table.publish_staged``).
* **Streaming reads** use snapshot ids as offsets: each micro-batch is
  ``incremental_entries(start, end]`` — cost proportional to the delta's
  appended files, never O(table). Row-preserving ``replace`` commits
  (compaction/clustering) contribute nothing, so maintenance does not
  disturb a live stream.
* **Streaming writes** are exactly-once: the stream epoch rides in the
  snapshot summary and the per-stream max-epoch table property advances in
  the SAME metadata commit as the rows (the guard
  :func:`streaming.ingest._epoch_committed` reads), so a replayed batch
  after restart is detected and skipped whole.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

try:  # present in PySpark >= 4.0.0; alias keeps a clear error if renamed
    from pyspark.sql.datasource import DataSourceStreamWriter
except ImportError:  # pragma: no cover
    DataSourceStreamWriter = object  # type: ignore[assignment]

from ..core import dv
from ..core import manifests as mf
from ..core import metadata as meta
from ..core.table import (
    DATA_DIR,
    PrunePredicate,
    Table,
    diff_commit_entries,
    entry_matches,
    group_dv_delta,
    prepare_predicates,
)

DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024
DEFAULT_BATCH_ROWS = 65_536


# --------------------------------------------------------------------------
# shared read machinery (executor-side)
# --------------------------------------------------------------------------


def _pack_splits(
    root: str, entries: Sequence[mf.ManifestEntry], split_bytes: int
) -> list[InputPartition]:
    """Greedy first-fit packing of files into read splits: one Spark task
    per ≈``split_bytes`` of data, not per file. Each file rides with its
    DV paths so the executor applies tombstones locally — no join stage."""
    splits: list[InputPartition] = []
    cur: list[tuple[str, str, tuple[str, ...]]] = []
    cur_bytes = 0
    for e in sorted(entries, key=lambda x: x.path):
        dvs = tuple(os.path.join(root, d["path"]) for d in e.deletes)
        cur.append((os.path.join(root, e.path), e.path, dvs))
        cur_bytes += max(int(e.size_bytes), 1)
        if cur_bytes >= split_bytes:
            splits.append(InputPartition(tuple(cur)))
            cur, cur_bytes = [], 0
    if cur:
        splits.append(InputPartition(tuple(cur)))
    return splits


def _align_batch(batch, target_schema):
    """Reorder/cast/null-fill one Arrow batch to the table's Arrow schema —
    schema evolution (a file written before a column existed) null-fills,
    exactly like the JVM reader under ``spark.read.schema(...)``."""
    import pyarrow as pa

    present = {n: i for i, n in enumerate(batch.schema.names)}
    arrays = []
    for field in target_schema:
        i = present.get(field.name)
        if i is None:
            arrays.append(pa.nulls(batch.num_rows, type=field.type))
            continue
        col = batch.column(i)
        if col.type != field.type:
            col = col.cast(field.type)
        arrays.append(col)
    return pa.RecordBatch.from_arrays(arrays, schema=target_schema)


def _read_split(files, target_schema, batch_rows: int):
    """Yield aligned Arrow batches for one split; MoR files drop their
    tombstoned positions — the executor-local mirror of the JVM scan's
    ``(_fp, _pos)`` anti-join."""
    for abs_path, rel_path, dv_paths in files:
        yield from _masked_batches(
            abs_path, dv.positions(rel_path, dv_paths), False, target_schema, batch_rows
        )


def _masked_batches(abs_path: str, pos, keep: bool, target_schema, batch_rows: int):
    """Aligned Arrow batches of one data file without the rows at ``pos``
    (sorted, unique file-global row indices), or with only those rows when
    ``keep``. ``iter_batches`` is sequential, so an offset counter recovers
    each batch's positions; the mask is one numpy boolean filter per batch."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    have = set(pf.schema_arrow.names)
    cols = [n for n in target_schema.names if n in have]
    offset = 0
    for b in pf.iter_batches(columns=cols, batch_size=batch_rows):
        n = b.num_rows
        lo, hi = np.searchsorted(pos, [offset, offset + n])
        if keep or hi > lo:
            mask = np.full(n, not keep)
            mask[pos[lo:hi] - offset] = keep
            b = b.filter(pa.array(mask))
        offset += n
        if b.num_rows:
            yield _align_batch(b, target_schema)


def _to_arrow_schema(schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


# --------------------------------------------------------------------------
# metadata tables (Iceberg's table$entries / $snapshots / $refs parity)
# --------------------------------------------------------------------------


class _MetadataReader(DataSourceReader):
    """``.option("metadata", "entries"|"snapshots"|"refs")`` — the table's
    own metadata as a queryable relation. ``entries`` plans one partition
    per manifest FILE (manifests are Parquet, streamed executor-side —
    a 10^6-file table's entry listing never sits on the driver);
    ``snapshots``/``refs`` are O(retention)/O(#refs) driver rows."""

    def __init__(self, root: str, kind: str, schema: T.StructType):
        self.root = root
        self.kind = kind
        self.arrow_schema = _to_arrow_schema(schema)

    def partitions(self):
        table = Table(self.root, meta.load_metadata(self.root))
        if self.kind == "entries":
            snap = table.current_snapshot()
            manifests = snap.manifests if snap else []
            mdir = table.metadata_dir
            return [
                InputPartition(("manifest", os.path.join(mdir, m)))
                for m in manifests
            ] or [InputPartition(("rows", ()))]
        if self.kind == "snapshots":
            import json as _json

            rows = tuple(
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.sequence_number,
                    s.timestamp_ms,
                    s.operation,
                    _json.dumps(s.summary, sort_keys=True, default=str),
                    s.snapshot_id == table.md.current_snapshot_id,
                )
                for s in table.md.snapshots
            )
            return [InputPartition(("rows", rows))]
        if self.kind == "refs":
            rows = tuple(
                (k, v, "branch" if k in table.md.branches else "tag")
                for k, v in sorted(table.md.refs.items())
            )
            return [InputPartition(("rows", rows))]
        raise ValueError(f"unknown metadata table {self.kind!r}")

    def read(self, partition: InputPartition):
        kind, payload = partition.value
        if kind == "rows":
            yield from payload
            return
        import pyarrow.parquet as pq

        for b in pq.ParquetFile(payload).iter_batches(batch_size=DEFAULT_BATCH_ROWS):
            yield _align_batch(b, self.arrow_schema)


# built literally: DataSource methods run in a session-less Python worker,
# where DDL-string parsing (a JVM call) is unavailable
_METADATA_SCHEMAS = {
    "snapshots": T.StructType(
        [
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent_id", T.LongType()),
            T.StructField("sequence_number", T.LongType()),
            T.StructField("timestamp_ms", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("summary", T.StringType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    ),
    "refs": T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("type", T.StringType()),
        ]
    ),
}


# --------------------------------------------------------------------------
# filter translation
# --------------------------------------------------------------------------

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}


def _filter_to_predicate(f: Filter) -> PrunePredicate | None:
    """Spark pushed filter → manifest prune predicate. Only top-level
    columns participate (nested paths have no footer bounds here); anything
    unrecognized simply doesn't prune — correctness never depends on this,
    because every filter is returned to Spark for row-level evaluation."""
    op = _OPS.get(type(f))
    if op is None:
        return None
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    value = f.value
    if op == "in":
        value = tuple(value)
    return PrunePredicate(attr[0], op, value)


# --------------------------------------------------------------------------
# batch reader
# --------------------------------------------------------------------------


class _TableBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: T.StructType, options: dict):
        self.root = root
        self.arrow_schema = _to_arrow_schema(schema)
        self.snapshot_id = _opt_int(options, "snapshot-id")
        self.as_of_ms = _opt_int(options, "as-of-ms")
        self.ref = options.get("ref")
        self.split_bytes = _opt_int(options, "read.split-target-bytes") or DEFAULT_SPLIT_BYTES
        self.batch_rows = _opt_int(options, "read.batch-rows") or DEFAULT_BATCH_ROWS
        self._preds: list[PrunePredicate] = []

    def pushFilters(self, filters):
        for f in filters:
            p = _filter_to_predicate(f)
            if p is not None:
                self._preds.append(p)
            # hand EVERY filter back: pruning is file-granular, Spark owns
            # the row-level residual (Iceberg's pushdown contract)
            yield f

    def partitions(self):
        table = Table(self.root, meta.load_metadata(self.root))
        entries = table.live_entries(
            snapshot_id=self.snapshot_id, as_of_ms=self.as_of_ms, ref=self.ref
        )
        if self._preds:
            preds = prepare_predicates(self._preds)
            entries = [e for e in entries if entry_matches(e, preds)]
        if not entries:
            return [InputPartition(())]
        return _pack_splits(self.root, entries, self.split_bytes)

    def read(self, partition: InputPartition):
        yield from _read_split(partition.value, self.arrow_schema, self.batch_rows)


# --------------------------------------------------------------------------
# stream reader (snapshot-incremental)
# --------------------------------------------------------------------------


CHANGELOG_META_FIELDS = [
    T.StructField("_change_type", T.StringType(), False),
    T.StructField("_change_ordinal", T.IntegerType(), False),
    T.StructField("_commit_snapshot_id", T.LongType(), False),
]


def _with_change_meta(batch, ctype: str, ordinal: int, snap_id: int):
    """Append the Iceberg changelog metadata columns to one Arrow batch."""
    import pyarrow as pa

    n = batch.num_rows
    arrays = list(batch.columns) + [
        pa.array([ctype] * n, type=pa.string()),
        pa.array([ordinal] * n, type=pa.int32()),
        pa.array([snap_id] * n, type=pa.int64()),
    ]
    names = list(batch.schema.names) + [
        "_change_type", "_change_ordinal", "_commit_snapshot_id",
    ]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _read_positions_split(files, dv_paths, target_schema, batch_rows: int):
    """Rows of ``files`` at EXACTLY the positions the delta DV files list
    for them (the MoR-delete / rollback-resurrect image) — the executor-
    local mirror of changelog_scan's ``rows_at`` semi-join."""
    for abs_path, rel_path in files:
        keep = dv.positions(rel_path, dv_paths)
        if len(keep):
            yield from _masked_batches(abs_path, keep, True, target_schema, batch_rows)


class _TableStreamReader(DataSourceStreamReader):
    """Offsets are snapshot ids (monotone sequence numbers; 0 = before the
    first snapshot). Batch (start, end] = files appended between the two
    snapshots; the initial offset 0 makes the first micro-batch a full
    backfill of the current table (tombstones applied), after which every
    batch costs O(delta).

    ``streaming.mode=changelog`` upgrades the stream to row-level CDC:
    each micro-batch emits every insert AND delete between the two
    snapshots with the Iceberg changelog metadata columns
    (``_change_type``/``_change_ordinal``/``_commit_snapshot_id``) —
    overwrites and CoW merges emit delete pre-images, MoR delete commits
    emit exactly the newly tombstoned positions, rollbacks resurrect them,
    and row-preserving ``replace`` commits (maintenance) emit nothing. The
    commit diff runs at manifest granularity in the planning worker (same
    shape as ``Table._changelog_diff``'s driver route); for manifest sets
    beyond ~10^5 entries the batch ``changelog_scan`` (distributed diff)
    is the right tool. Offset 0 boots the stream with the current live
    rows as ``insert`` — Debezium-style initial snapshot + tail."""

    def __init__(self, root: str, schema: T.StructType, options: dict):
        self.root = root
        self.changelog = options.get("streaming.mode", "append") == "changelog"
        if self.changelog:
            meta_names = [f.name for f in CHANGELOG_META_FIELDS]
            tail = [f.name for f in schema.fields[-len(CHANGELOG_META_FIELDS):]]
            if len(schema.fields) <= len(CHANGELOG_META_FIELDS) or tail != meta_names:
                # a user-supplied .schema(table_schema) would otherwise have
                # its last three DATA columns silently treated as metadata
                raise ValueError(
                    "changelog stream schema must be the table schema followed "
                    f"by the metadata columns {meta_names}; omit .schema(...) "
                    "to let the source derive it"
                )
            base = T.StructType(schema.fields[: -len(CHANGELOG_META_FIELDS)])
            self.base_arrow_schema = _to_arrow_schema(base)
        self.arrow_schema = _to_arrow_schema(schema)
        self.split_bytes = _opt_int(options, "read.split-target-bytes") or DEFAULT_SPLIT_BYTES
        self.batch_rows = _opt_int(options, "read.batch-rows") or DEFAULT_BATCH_ROWS
        self.skip_non_append = str(options.get("streaming.skip-non-append", "false")).lower() == "true"
        self._start = _opt_int(options, "streaming.start-snapshot-id")
        self._start_latest = str(options.get("streaming.start-latest", "false")).lower() == "true"
        # per-trigger admission control (Iceberg parity:
        # streaming-max-files/bytes-per-micro-batch): cap each micro-batch
        # by walking the snapshot log and returning an INTERMEDIATE
        # snapshot id from latestOffset, so a long-idle consumer — or an
        # offset-0 bootstrap of a 100 TB table — drains in bounded batches
        # instead of one multi-hour batch with matching checkpoint-loss
        # blast radius
        self.max_files = _opt_int(options, "read.max-files-per-trigger")
        self.max_bytes = _opt_int(options, "read.max-bytes-per-trigger")
        # reader-side pagination anchor for the caps. The Python API's
        # latestOffset takes no start offset, so the reader tracks its own:
        # initialOffset and partitions() keep it current. Call-order facts
        # this relies on (observed on Spark 4.1's python_streaming_source
        # runner, one long-lived reader per query run):
        #   fresh query    latestOffset → initialOffset → partitions(...)
        #   restart        partitions(WAL start, WAL end) → latestOffset
        # i.e. a restart always re-plans the write-ahead log's last batch
        # first, anchoring _last_end to the committed offset before any
        # capping decision — so a first latestOffset with no anchor is
        # necessarily a fresh query, where the initial offset is the
        # correct anchor.
        self._last_end: int | None = None

    def _table(self) -> Table:
        return Table(self.root, meta.load_metadata(self.root))

    def _initial_snapshot_id(self) -> int:
        if self._start is not None:
            return self._start
        if self._start_latest:
            snap = self._table().current_snapshot()
            return snap.snapshot_id if snap else 0
        return 0

    def initialOffset(self) -> dict:
        off = self._initial_snapshot_id()
        self._last_end = off
        return {"snapshot_id": off}

    def latestOffset(self) -> dict:
        table = self._table()
        snap = table.current_snapshot()
        head = snap.snapshot_id if snap else 0
        if self.max_files is None and self.max_bytes is None:
            return {"snapshot_id": head}
        start = self._last_end
        if start is None:
            # fresh query, asked for offsets before initialOffset (see
            # __init__ note): anchor at the initial offset and answer with
            # the first ADMITTED offset, so every trigger style moves data
            # immediately — in particular Trigger.availableNow, which
            # captures THIS value as its drain target (the Python source
            # API gives it no way to re-consult the source), processes one
            # capped batch per invocation instead of zero rows. The
            # offset-0 backfill of a huge table pages under the caps
            # either way, never arriving as one table-sized micro-batch.
            start = self._initial_snapshot_id()
            self._last_end = start
        if head <= start:
            return {"snapshot_id": head}
        return {"snapshot_id": self._admit(table, start, head)}

    def _admit(self, table: Table, start: int, head: int) -> int:
        """Largest snapshot id in (start, head] whose cumulative commit
        summary stays within the per-trigger caps — always admitting at
        least one snapshot so the stream can't stall. Counts come from the
        snapshot log (added-files/added-bytes, which every commit type
        records), so admission is pure metadata: no manifest reads.
        If the range can't be walked (expired ancestor, diverged history)
        fall back to the uncapped head. A capped offset-0 bootstrap over
        history with a row-removing commit reads head as well, in every
        mode: paging it would start from an intermediate snapshot, whose
        rows a later commit removed — the strict read raises on that
        commit, skip-non-append would emit the removed rows, and changelog
        mode would emit inserts plus deletes where the bootstrap is the
        head's live rows as inserts. Caps change batch boundaries, never
        what a bootstrap emits."""
        from ..core.table import ROW_PRESERVING_OPS, IncrementalScanError

        try:
            if start == 0:
                chain, cur = [], table.md.snapshot_by_id(head)
                while cur is not None:
                    chain.append(cur)
                    cur = (
                        table.md.snapshot_by_id(cur.parent_id)
                        if cur.parent_id is not None
                        else None
                    )
                chain.reverse()
                if any(
                    c.operation != "append" and c.operation not in ROW_PRESERVING_OPS
                    for c in chain
                ):
                    return head
            else:
                chain = table._lineage_chain(start, head)
        except (IncrementalScanError, KeyError):
            return head
        files = nbytes = 0
        end = start
        for snap in chain:
            f = int(snap.summary.get("added-files", 0) or 0)
            b = int(snap.summary.get("added-bytes", 0) or 0)
            over = (self.max_files is not None and files + f > self.max_files) or (
                self.max_bytes is not None and nbytes + b > self.max_bytes
            )
            if over and end != start:
                break
            files += f
            nbytes += b
            end = snap.snapshot_id
            if over:
                break
        return end

    def partitions(self, start: dict, end: dict):
        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        self._last_end = e
        if s == e:
            return [InputPartition(())]
        table = self._table()
        if self.changelog:
            return self._changelog_partitions(table, s, e) or [InputPartition(())]
        if s == 0:
            entries = table.live_entries(snapshot_id=e)
        else:
            entries = table.incremental_entries(
                s, e, skip_non_append=self.skip_non_append
            )
        if not entries:
            return [InputPartition(())]
        return _pack_splits(self.root, entries, self.split_bytes)

    def _changelog_partitions(self, table: Table, s: int, e: int):
        """One commit → file-level entry diff → tagged read splits. Splits
        pack like the plain scan; each carries its change tag so executors
        never coordinate."""
        from ..core.table import ROW_PRESERVING_OPS

        parts: list[InputPartition] = []

        def emit_of(entries, ctype, ordinal, snap_id):
            for split in _pack_splits(self.root, entries, self.split_bytes):
                parts.append(
                    InputPartition(("of", split.value, (), ctype, ordinal, snap_id))
                )

        def emit_at(paths, dv_rel, ctype, ordinal, snap_id):
            files = tuple(
                (os.path.join(self.root, p), p) for p in sorted(paths)
            )
            dv_abs = tuple(os.path.join(self.root, d) for d in sorted(dv_rel))
            parts.append(InputPartition(("at", files, dv_abs, ctype, ordinal, snap_id)))

        if s == 0:  # initial snapshot: current live rows as inserts
            emit_of(table.live_entries(snapshot_id=e), "insert", 0, e)
            return parts

        ordinal = 0
        for snap in table._lineage_chain(s, e):
            if snap.operation in ROW_PRESERVING_OPS:
                continue
            parent = (
                table.md.snapshot_by_id(snap.parent_id)
                if snap.parent_id is not None
                else None
            )
            pman = set(parent.manifests) if parent else set()
            cman = set(snap.manifests)
            inserts, deletes, changed = diff_commit_entries(
                table.metadata_dir,
                [m for m in (parent.manifests if parent else []) if m not in cman],
                [m for m in snap.manifests if m not in pman],
            )
            emit_of(inserts, "insert", ordinal, snap.snapshot_id)
            emit_of(deletes, "delete", ordinal, snap.snapshot_id)
            grew, shrank = group_dv_delta(changed)
            for dvs, paths in sorted(grew.items(), key=lambda kv: kv[1]):
                emit_at(paths, sorted(dvs), "delete", ordinal, snap.snapshot_id)
            for dvs, paths in sorted(shrank.items(), key=lambda kv: kv[1]):
                emit_at(paths, sorted(dvs), "insert", ordinal, snap.snapshot_id)
            ordinal += 1
        return parts

    def read(self, partition: InputPartition):
        if not self.changelog:
            yield from _read_split(partition.value, self.arrow_schema, self.batch_rows)
            return
        if not partition.value:
            return
        kind, files, dv_abs, ctype, ordinal, snap_id = partition.value
        if kind == "of":
            batches = _read_split(files, self.base_arrow_schema, self.batch_rows)
        else:
            batches = _read_positions_split(
                files, dv_abs, self.base_arrow_schema, self.batch_rows
            )
        for b in batches:
            yield _with_change_meta(b, ctype, ordinal, snap_id)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the table needs nothing


# --------------------------------------------------------------------------
# writers
# --------------------------------------------------------------------------


@dataclass
class _FilesWritten(WriterCommitMessage):
    # each element: ManifestEntry fields as a plain dict (jsonable/picklable)
    entries: tuple
    # merge-keys upsert only: (task DV rel path | None,
    #   ((data path, #DVs at probe), ...))
    dv: tuple = ()
    # merge-keys upsert only: sorted uint64 hashes of the task's non-NULL
    # keys (8 bytes a key), for the commit's cross-task duplicate check
    key_hashes: object = None


def _partition_values(pdf, spec_fields):
    """Partition-transform columns computed pandas-side (identity /
    year / month / day — the same values ``PartitionField.to_column``
    produces JVM-side). ``bucket`` needs Spark's xxhash64 and is routed to
    ``Table.append`` instead, loudly."""
    import pandas as pd

    out = {}
    for f in spec_fields:
        src = pdf[f["source"]]
        tr = f["transform"]
        if tr == "identity":
            out[f["name"]] = src
        elif tr == "year":
            # nullable Int64: a null timestamp partitions as null (the
            # __HIVE_DEFAULT_PARTITION__ convention), it must not crash the
            # task or mint a literal "nan" partition value
            out[f["name"]] = pd.to_datetime(src).dt.year.astype("Int64")
        elif tr == "month":
            out[f["name"]] = pd.to_datetime(src).dt.strftime("%Y-%m")
        elif tr == "day":
            out[f["name"]] = pd.to_datetime(src).dt.strftime("%Y-%m-%d")
        else:
            raise ValueError(
                f"partition transform {tr!r} is not computable Python-side; "
                "write through Table.append (JVM xxhash64 bucketing)"
            )
    return out


class _TableArrowWriter(DataSourceArrowWriter):
    """Executor-side file writer shared by the batch and streaming sinks.

    One parquet file per (task, partition value); footer stats + Blooms are
    computed here, next to the bytes just written, so the driver-side
    commit never opens a data file."""

    def __init__(
        self, root: str, table: Table, overwrite: bool, merge_key: str | None = None
    ):
        self.root = root
        self.overwrite = overwrite
        # merge-keys upsert: MoR MERGE through the vanilla writer —
        # tasks probe THIS snapshot (fixed at planning, so every task sees
        # one consistent state) for rows their keys replace
        self.merge_key = merge_key
        snap = table.current_snapshot()
        self.merge_snapshot = snap.snapshot_id if snap else None
        self.spec_fields = [f.to_dict() for f in table.partition_spec.fields]
        self.partition_cols = [
            ("_p_" + f["name"], f["name"]) for f in self.spec_fields
        ]
        self.sort_cols = [
            (f.column, f.descending) for f in table.sort_order.fields
        ]
        self.stats_cols = sorted(table.stats_columns() or [])
        self.bloom_cols = list(table.bloom_columns)

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        import pyarrow as pa

        if not self.spec_fields and not self.sort_cols:
            # nothing forces materialization: stream batches straight to
            # the file writer — task memory stays one Arrow batch deep
            # regardless of partition size (image payloads are wide)
            return self._write_streaming(iterator)
        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FilesWritten(())
        tbl = pa.Table.from_batches(batches)
        keys = tbl[self.merge_key].to_pylist() if self.merge_key else None
        groups: list[tuple[dict, pa.Table]]
        if not self.spec_fields:
            groups = [({}, tbl)]
        else:
            pdf = tbl.to_pandas()
            pvals = _partition_values(pdf, self.spec_fields)
            for name, col in pvals.items():
                pdf["_p_" + name] = col
            pcols = ["_p_" + f["name"] for f in self.spec_fields]
            groups = []
            for key, sub in pdf.groupby(pcols, dropna=False, sort=True):
                key = key if isinstance(key, tuple) else (key,)
                partition = {c: _plain(v) for c, v in zip(pcols, key)}
                groups.append(
                    (partition, pa.Table.from_pandas(
                        sub.drop(columns=pcols), schema=tbl.schema, preserve_index=False
                    ))
                )
        entries = []
        for partition, sub in groups:
            if self.sort_cols:
                order = [
                    (c, "descending" if d else "ascending")
                    for c, d in self.sort_cols
                    if c in sub.column_names
                ]
                if order:
                    sub = sub.sort_by(order)
            entries.append(self._write_one(partition, sub))
        return self._finish(entries, keys)

    def _write_streaming(self, iterator: Iterator) -> WriterCommitMessage:
        import pyarrow.parquet as pq

        destdir = os.path.join(self.root, DATA_DIR)
        os.makedirs(destdir, exist_ok=True)
        name = f"{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(destdir, name)
        writer = None
        keys: list | None = [] if self.merge_key else None
        try:
            for b in iterator:
                if not b.num_rows:
                    continue
                if writer is None:
                    writer = pq.ParquetWriter(abs_path, b.schema)
                if keys is not None:
                    keys.extend(b.column(self.merge_key).to_pylist())
                writer.write_batch(b)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _FilesWritten(())
        return self._finish([self._entry_for(abs_path, {})], keys)

    def _finish(self, entries: list, keys: list | None) -> WriterCommitMessage:
        if not self.merge_key:
            return _FilesWritten(tuple(entries))
        nonnull = [k for k in keys or () if k is not None]
        uniq = set(nonnull)
        if len(uniq) != len(nonnull):
            self._unlink([_FilesWritten(tuple(entries))])
            raise ValueError(
                f"merge-keys: duplicate {self.merge_key} values in one write "
                "task; each key may appear in at most one source row"
            )
        pred = prepare_predicates([PrunePredicate(self.merge_key, "in", list(uniq))])[0]
        hashes = np.sort(pred.key_hashes[:, 0])
        return _FilesWritten(tuple(entries), self._probe_merge_tombstones(pred), hashes)

    def _probe_merge_tombstones(self, pred) -> tuple:
        """Executor-side half of the merge-keys upsert (MoR MERGE through
        the vanilla Spark writer): the one key probe (``dv.probe``: bounds,
        Bloom, key-column read, minus earlier tombstones) of the probed
        snapshot's files for THIS task's keys (``pred``, a prepared ``in``
        predicate), its hits written as one task DV fragment. Work per task ∝ its keys' candidate files, never
        O(table); the driver reads back only the fragments' tombstones.
        Tasks probe independently (no coordination), so a file hot across
        many tasks pays one pruned key-column read per task — the price of
        reusing Spark's writer exchange; pipelines that pre-partition by
        key should call maintenance.merge.merge_into directly."""
        if not pred.value or self.merge_snapshot is None:
            return (None, ())
        table = Table(self.root, meta.load_metadata(self.root))
        hits = list(dv.probe(
            self.root,
            table.live_entries(snapshot_id=self.merge_snapshot),
            pred,
            mf.spark_to_arrow_schema(table.schema),
            dict.fromkeys(dv.PROBE_STATS, 0),
        ))
        return (dv.write_fragment(self.root, hits), tuple((e.path, len(e.deletes)) for e, _ in hits))

    def _write_one(self, partition: dict, tbl) -> dict:
        import pyarrow.parquet as pq

        sub = "/".join(
            f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for k, v in partition.items()
        )
        destdir = os.path.join(self.root, DATA_DIR, sub) if sub else os.path.join(self.root, DATA_DIR)
        os.makedirs(destdir, exist_ok=True)
        name = f"{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(destdir, name)
        pq.write_table(tbl, abs_path)
        return self._entry_for(abs_path, partition)

    def _entry_for(self, abs_path: str, partition: dict) -> dict:
        """Footer stats + Blooms, computed HERE next to the bytes just
        written — the commit message ships metadata only."""
        st = mf.footer_stats(abs_path, set(self.stats_cols) if self.stats_cols else None)
        blooms = {}
        if self.bloom_cols:
            blooms = mf._file_blooms(abs_path, self.bloom_cols)
        return {
            "path": os.path.relpath(abs_path, self.root),
            "partition": partition,
            "size_bytes": os.path.getsize(abs_path),
            "record_count": st["record_count"],
            "lower_bounds": st["lower_bounds"],
            "upper_bounds": st["upper_bounds"],
            "null_counts": st["null_counts"],
            "blooms": blooms,
        }

    # ---- driver side ------------------------------------------------------
    def _entries(self, messages) -> list[mf.ManifestEntry]:
        return [
            mf.ManifestEntry(**e)
            for m in messages
            if m is not None
            for e in m.entries
        ]

    def _unlink(self, messages) -> None:
        for m in messages or []:
            if m is None:
                continue
            for e in m.entries:
                try:
                    os.unlink(os.path.join(self.root, e["path"]))
                except OSError:
                    pass

    def commit(self, messages) -> None:
        table = Table(self.root, meta.load_metadata(self.root))
        entries = self._entries(messages)
        if self.merge_key:
            self._commit_merge(table, entries, messages)
            return
        if self.overwrite:
            table.commit_overwrite(entries)
        else:
            if not entries:
                return
            table.commit_append(entries)

    def _commit_merge(self, table: Table, entries, messages) -> None:
        """Driver half of the merge-keys upsert: consolidate the task DV
        fragments into ONE (path, pos)-sorted delete vector
        (``dv.consolidate``), then land tombstones + upsert files in a
        single MERGE snapshot via commit_delete_vectors — the same
        atomicity contract as maintenance.merge.merge_into(strategy='mor').
        Two task hits on one (path, pos), or one key reported by two tasks,
        mean two source rows for one key: that raises, and Spark's abort
        removes every file the tasks wrote. Driver work is O(this batch's
        matched rows) plus 8 bytes per upserted key for the duplicate
        check (:meth:`_cross_task_duplicates`)."""
        msgs = [m for m in messages or [] if m is not None]
        expected = {p: n for m in msgs if m.dv for p, n in m.dv[1]}
        dv_rel, counts = dv.consolidate(self.root, [m.dv[0] for m in msgs if m.dv and m.dv[0]])
        dups = self._cross_task_duplicates(msgs)
        if dups:
            if dv_rel:
                os.unlink(os.path.join(self.root, dv_rel))
            raise ValueError(
                f"merge-keys: duplicate {self.merge_key} values "
                f"{sorted(dups, key=str)[:5]!r} across write tasks; each key may "
                "appear in at most one source row"
            )
        if dv_rel is None and not entries:
            return
        table.commit_delete_vectors(
            dv_rel,
            counts,
            summary={
                "merge-key": self.merge_key,
                "upserted-rows": sum(e.record_count for e in entries),
                "tombstoned-rows": int(sum(counts.values())),
            },
            added_entries=entries,
            operation="merge",
            expected_dv_counts=expected or None,
        )

    def _cross_task_duplicates(self, msgs) -> list:
        """Key values written by more than one task: the tasks' sorted key
        hashes find candidates in one sort, each confirmed from the key
        column of the files its tasks wrote, so a 64-bit collision of two
        distinct keys never fails an upsert."""
        import pyarrow.parquet as pq

        arrays = [m.key_hashes for m in msgs if m.key_hashes is not None]
        h = np.sort(np.concatenate(arrays)) if arrays else np.empty(0, np.uint64)
        clash = h[1:][h[1:] == h[:-1]]
        seen: dict = {}
        for i, m in enumerate(msgs):
            if len(clash) and m.key_hashes is not None and np.isin(clash, m.key_hashes).any():
                for e in m.entries:
                    col = pq.read_table(os.path.join(self.root, e["path"]), columns=[self.merge_key])
                    for k in col[self.merge_key].to_pylist():
                        seen.setdefault(k, set()).add(i)
        return [k for k, tasks in seen.items() if k is not None and len(tasks) > 1]

    def abort(self, messages) -> None:
        self._unlink(messages)
        # also drop the task DV fragments
        for m in messages or []:
            if m is None or not getattr(m, "dv", None):
                continue
            dv_path = m.dv[0]
            if dv_path:
                try:
                    os.unlink(os.path.join(self.root, dv_path))
                except OSError:
                    pass


class _TableStreamWriter(_TableArrowWriter, DataSourceStreamWriter):
    """Exactly-once streaming sink: the batch id is the stream epoch, and
    the epoch marker + max-epoch property commit atomically with the rows
    (same contract as :func:`streaming.ingest.stream_append`, without the
    foreachBatch detour). A replayed batch re-writes its files, sees the
    epoch already committed, and unlinks them instead of committing."""

    def __init__(self, root: str, table: Table, stream_id: str):
        super().__init__(root, table, overwrite=False)
        self.stream_id = stream_id

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        from ..streaming.ingest import _epoch_committed, _max_epoch_prop

        table = Table(self.root, meta.load_metadata(self.root))
        if _epoch_committed(table, self.stream_id, int(batchId)):
            self._unlink(messages)  # replay after restart: already in
            return
        entries = self._entries(messages)
        if not entries:
            return
        table.commit_append(
            entries,
            extra_summary={"stream-id": self.stream_id, "stream-epoch": int(batchId)},
            set_properties={_max_epoch_prop(self.stream_id): int(batchId)},
        )

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        self._unlink(messages)


# --------------------------------------------------------------------------
# the data source
# --------------------------------------------------------------------------


def _opt_int(options: dict, key: str) -> int | None:
    v = options.get(key)
    return int(v) if v is not None else None


def _plain(v):
    """numpy/pandas scalar → python scalar for manifest partition dicts;
    every missing flavor (None/NaN/NaT/NA) normalizes to None so null
    partition values take the __HIVE_DEFAULT_PARTITION__ path everywhere."""
    if v is None:
        return None
    import pandas as pd

    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v.item() if hasattr(v, "item") else v


class LakehouseDataSource(DataSource):
    """``format("lakehouse")`` — see module docstring. The table root comes
    from ``.load(path)`` / ``.option("path", ...)``; ``columns`` optionally
    narrows the scan schema (manual projection pushdown — the Python data
    source API does not yet push column pruning through)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("lakehouse source needs a table root: .load(path) or .option('path', ...)")
        return os.path.abspath(root)

    def _table(self) -> Table:
        return Table(self._root(), meta.load_metadata(self._root()))

    def schema(self) -> T.StructType:
        md = self.options.get("metadata")
        if md:
            if md == "entries":
                from ..core.table import _entries_spark_schema

                return _entries_spark_schema()
            schema = _METADATA_SCHEMAS.get(md)
            if schema is None:
                raise ValueError(f"unknown metadata table {md!r}")
            return schema
        schema = self._table().schema
        cols = self.options.get("columns")
        if cols:
            want = [c.strip() for c in cols.split(",") if c.strip()]
            schema = T.StructType([schema[c] for c in want])
        if self.options.get("streaming.mode") == "changelog":
            schema = T.StructType(list(schema.fields) + CHANGELOG_META_FIELDS)
        return schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        md = self.options.get("metadata")
        if md:
            return _MetadataReader(self._root(), md, schema)
        return _TableBatchReader(self._root(), schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return _TableStreamReader(self._root(), schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool):
        table = self._table()
        _check_write_schema(schema, table.schema)
        return _TableArrowWriter(
            self._root(), table, overwrite, merge_key=self._merge_key(table, overwrite)
        )

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        table = self._table()
        _check_write_schema(schema, table.schema)
        if self.options.get("merge-keys"):
            raise ValueError(
                "merge-keys is a batch-writer option; for streaming upserts "
                "use streaming.ingest.stream_upserts (CDC apply with the "
                "exactly-once epoch guard)"
            )
        return _TableStreamWriter(self._root(), table, self._stream_id())

    def _merge_key(self, table: Table, overwrite: bool) -> str | None:
        """``.option("merge-keys", "image_id").mode("append")`` turns the
        plain append into a MERGE upsert: rows whose key already exists
        replace the old rows (MoR tombstones + inserts in one snapshot) —
        the Spark-native spelling of maintenance.merge.merge_into for a
        user who only knows the DataFrame writer.

        Each key may appear in at most one source row. A key repeated
        inside one write task fails that task; a key repeated across
        tasks fails the commit, whether or not it matches a target row
        (each task reports its keys, Iceberg's "multiple source rows
        matched one target row"); nothing commits either way."""
        mk = self.options.get("merge-keys")
        if not mk:
            return None
        if overwrite:
            raise ValueError("merge-keys only applies to mode('append')")
        keys = [k.strip() for k in mk.split(",") if k.strip()]
        if len(keys) != 1:
            raise ValueError(
                f"merge-keys supports exactly one key column, got {keys!r}"
            )
        if keys[0] not in table.schema.fieldNames():
            raise ValueError(f"merge key {keys[0]!r} is not a table column")
        return keys[0]

    def _stream_id(self) -> str:
        """The exactly-once epoch guard is keyed by stream-id: a replayed
        batch of the SAME query must be skipped, a batch 0 of a DIFFERENT
        query must commit. A shared default id would silently drop (and
        unlink) every batch of a second query whose fresh checkpoint
        restarts batch ids — so the id must be per-query: explicit
        ``stream-id`` option, else derived from the checkpoint location
        (stable across restarts of one query, distinct across queries)."""
        sid = self.options.get("stream-id")
        if sid:
            return sid
        ckpt = self.options.get("checkpointLocation")
        if ckpt:
            import hashlib

            digest = hashlib.sha256(os.path.abspath(ckpt).encode()).hexdigest()
            return f"ckpt-{digest[:16]}"
        raise ValueError(
            "lakehouse streaming sink needs .option('stream-id', ...) or a "
            "checkpointLocation to key its exactly-once epoch guard; a "
            "shared default would drop batches across distinct queries"
        )


def _check_write_schema(incoming: T.StructType, target: T.StructType) -> None:
    missing = [f.name for f in target.fields if f.name not in incoming.fieldNames()]
    extra = [n for n in incoming.fieldNames() if n not in target.fieldNames()]
    if missing or extra:
        raise ValueError(
            f"write schema mismatch: missing columns {missing}, unknown columns {extra}"
        )


def register_lakehouse_source(spark) -> None:
    """Idempotent registration; after this, all four verbs work."""
    spark.dataSource.register(LakehouseDataSource)
