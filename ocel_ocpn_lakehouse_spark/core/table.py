"""Table: append/overwrite/replace commits, scans, time travel, evolution.

The Spark-side equivalent of the reference's PyIceberg ``Table`` handle
(loaded at ingest/production_bootstrap.py:584-590, scanned via
``daft.read_iceberg`` at agent/process_mining_queries.py:79). Writes go
through a two-phase protocol: executors write Parquet into ``_staging/``,
the driver registers the files into a manifest and commits a new snapshot
(reference analog: staged-load flow ingest/daft_batch_ocel_loader.py:151-165
+ ops/commit_staged_files.py:47-88).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from dataclasses import dataclass, field as dc_field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dv
from . import manifests as mf
from . import metadata as meta
from .local import local_df
from .spec import PartitionSpec, SortOrder, TableSpec

DATA_DIR = "data"
STAGING_DIR = "_staging"

# snapshot operations whose commits do not change the table's logical row
# set (maintenance rewrites: compaction, clustering, spec evolution,
# manifest rewrite). Incremental consumers skip them — the same contract
# Iceberg's incremental append scan applies to REPLACE snapshots.
ROW_PRESERVING_OPS = frozenset({"replace"})


class IncrementalScanError(RuntimeError):
    """The requested snapshot range is not expressible as an append-only
    delta (an overwrite/merge/rollback commit intervened, or the start
    snapshot expired). Callers fall back to a full recompute."""


def diff_commit_entries(
    metadata_dir: str,
    removed_manifests: list[str],
    added_manifests: list[str],
) -> tuple[list[mf.ManifestEntry], list[mf.ManifestEntry], list[tuple[str, list[str], list[str]]]]:
    """Path-wise entry diff of ONE commit: (added-only entries, removed-only
    entries, [(path, new_dv_paths, gone_dv_paths)] for shared paths whose
    tombstone set moved). The single definition of what row-level changes a
    commit emitted — used by ``Table._changelog_diff``'s driver route and
    the streaming CDC source's planning worker, so batch ``changelog_scan``
    and ``streaming.mode=changelog`` can never disagree."""
    removed_by = {
        e.path: e for e in mf.read_manifests(metadata_dir, removed_manifests)
    }
    added_by = {
        e.path: e for e in mf.read_manifests(metadata_dir, added_manifests)
    }
    inserts = [e for p, e in added_by.items() if p not in removed_by]
    deletes = [e for p, e in removed_by.items() if p not in added_by]
    changed: list[tuple[str, list[str], list[str]]] = []
    for p, ce in added_by.items():
        pe = removed_by.get(p)
        if pe is None:
            continue
        pdv = {d["path"] for d in pe.deletes}
        cdv = {d["path"] for d in ce.deletes}
        if pdv != cdv:
            changed.append((p, sorted(cdv - pdv), sorted(pdv - cdv)))
    return inserts, deletes, changed


def group_dv_delta(
    changed: list[tuple[str, list[str], list[str]]],
) -> tuple[dict[frozenset, list[str]], dict[frozenset, list[str]]]:
    """Group DV-delta triples by identical tombstone delta (grew → deletes,
    shrank → resurrect-inserts) so one positions-read serves every file
    touched by the same delete commit (the common case: one DV file/commit)."""
    grew: dict[frozenset, list[str]] = {}
    shrank: dict[frozenset, list[str]] = {}
    for p, new_dvs, gone_dvs in changed:
        if new_dvs:
            grew.setdefault(frozenset(new_dvs), []).append(p)
        if gone_dvs:
            shrank.setdefault(frozenset(gone_dvs), []).append(p)
    return grew, shrank


@dataclass
class PrunePredicate:
    """A simple predicate usable for manifest-level file pruning.

    column may be a data column (compared against per-file min/max from
    footer stats) or a partition column ``_p_<name>`` (compared against
    the file's partition value).
    """

    column: str
    op: str  # '=', '<', '<=', '>', '>=', 'in'
    value: object
    # precomputed probe state for large 'in' sets (see prepare_predicates):
    # without these, every manifest entry would pay an O(|values|) bounds
    # scan plus a full re-hash of the probe set against its Bloom filter.
    sorted_values: tuple | None = dc_field(default=None, repr=False, compare=False)
    key_hashes: object = dc_field(default=None, repr=False, compare=False)


def prepare_predicates(preds: Sequence[PrunePredicate]) -> list[PrunePredicate]:
    """Precompute per-predicate probe state ONCE per scan so pruning a
    large 'in' set (e.g. a streaming dedup batch probing the corpus
    seen-set) is O(log n) bisect + one vectorized Bloom gather per file,
    not O(|values|) work per file. Returns new predicate objects; the
    originals are never mutated. Mixed/uncomparable value types fall back
    to the unprepared (conservative) path."""
    out = []
    for p in preds:
        if p.op == "in" and p.sorted_values is None:
            vals = [v for v in p.value if v is not None]
            try:
                sv = tuple(sorted(vals))
            except TypeError:
                sv = None  # mixed types: keep the conservative any() scan
            kh = mf.bloom_key_hashes(vals)
            p = PrunePredicate(p.column, p.op, p.value, sorted_values=sv, key_hashes=kh)
        out.append(p)
    return out


def entry_matches(e: mf.ManifestEntry, preds: Sequence[PrunePredicate]) -> bool:
    """File-level pruning verdict for one manifest entry: partition values,
    min/max bounds, and (for '='/'in') the per-file Bloom filter. Module-
    level so the distributed scan planner can ship it to executors without
    pickling the Table."""
    for p in preds:
        if p.column in e.partition:
            pv = e.partition[p.column]
            if p.op == "=" and pv != p.value:
                return False
            if p.op == "in" and pv not in p.value:
                return False
            continue
        lo = e.lower_bounds.get(p.column)
        hi = e.upper_bounds.get(p.column)
        if not _bounds_overlap(p, lo, hi):
            return False
        # membership predicates also consult the file's Bloom filter
        # (prunes point lookups on ANY layout; absence = might-contain)
        bloom = e.blooms.get(p.column)
        if bloom and p.op in ("=", "in"):
            khashes = p.key_hashes
            if khashes is None:
                vals = p.value if p.op == "in" else [p.value]
                khashes = mf.bloom_key_hashes(vals)
            if not mf.bloom_any_contains(bloom, khashes):
                return False
    return True


def _bounds_overlap(pred: PrunePredicate, lower, upper) -> bool:
    """Conservative: True (keep file) unless bounds prove no row matches.
    Manifest bounds are JSON-decoded, so a bound JSON could not hold
    arrives as a string (``default=str``): it is coerced to the type of the
    values it is compared with. Any doubt (missing bounds, a failed
    coercion, a cross-type comparison) keeps the file."""
    if lower is None or upper is None:
        return True
    v = pred.value
    sv = pred.sorted_values
    like = (sv[0] if sv else None) if pred.op == "in" else v
    try:
        if like is not None and not isinstance(like, str):
            lower, upper = (type(like)(b) if isinstance(b, str) else b for b in (lower, upper))
        if pred.op == "=":
            return lower <= v <= upper
        if pred.op == "<":
            return lower < v
        if pred.op == "<=":
            return lower <= v
        if pred.op == ">":
            return upper > v
        if pred.op == ">=":
            return upper >= v
        if pred.op == "in":
            if sv is not None:
                # bisect the prepared sorted probe set: any value in
                # [lower, upper] iff the first value >= lower is <= upper
                i = bisect.bisect_left(sv, lower)
                return i < len(sv) and sv[i] <= upper
            return any(lower <= x <= upper for x in v)
    except (TypeError, ValueError):
        return True
    return True


class Table:
    def __init__(self, root: str, md: meta.TableMetadata, branch: str | None = None):
        self.root = root
        self.md = md
        # when set, this instance is a BRANCH VIEW: reads resolve the branch
        # head and commits advance refs[branch] instead of main — the
        # write-audit-publish staging surface (Iceberg branch writes).
        self._branch = branch
        # manifest-name → entry count, from parquet footers. Manifests are
        # immutable (rewrites produce new names), so this never invalidates;
        # repeated scans on a long append chain pay the footer reads once.
        self._manifest_counts: dict[str, int] = {}

    def _manifest_num_rows(self, manifest: str) -> int:
        n = self._manifest_counts.get(manifest)
        if n is None:
            n = pq.read_metadata(os.path.join(self.metadata_dir, manifest)).num_rows
            self._manifest_counts[manifest] = n
        return n

    def plans_distributed(self, manifests: list[str] | None = None) -> bool:
        """The one planner-routing rule: plan over ``entries_df`` (Spark)
        instead of materialized entries (driver) when ``manifests`` (default:
        the current snapshot's) hold more than ``scan.plan-distributed-
        threshold`` entries, counted from memoized manifest footers — no
        entry is read and no Spark job runs to decide."""
        if manifests is None:
            snap = self.current_snapshot()
            manifests = snap.manifests if snap else []
        n = sum(self._manifest_num_rows(m) for m in manifests)
        return n > self.prop_int("scan.plan-distributed-threshold", 10_000)

    def _manifest_totals(self, manifests: list[str], side: str) -> dict:
        """Commit-summary totals of every file listed in ``manifests``,
        summed from their size/record columns (entries never materialize)."""
        import pyarrow.compute as pc

        files = nbytes = records = 0
        for m in manifests:
            t = pq.read_table(
                os.path.join(self.metadata_dir, m), columns=["size_bytes", "record_count"]
            )
            files += t.num_rows
            nbytes += int(pc.sum(t["size_bytes"]).as_py() or 0)
            records += int(pc.sum(t["record_count"]).as_py() or 0)
        return {f"{side}-files": files, f"{side}-bytes": nbytes, f"{side}-records": records}

    # ---- basics -----------------------------------------------------------
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.md.schema_json))

    @property
    def partition_spec(self) -> PartitionSpec:
        return PartitionSpec.from_list(self.md.partition_spec)

    @property
    def sort_order(self) -> SortOrder:
        return SortOrder.from_list(self.md.sort_order)

    @property
    def properties(self) -> dict[str, str]:
        return self.md.properties

    def prop_int(self, key: str, default: int = 0) -> int:
        return int(self.md.properties.get(key, default))

    @property
    def target_file_size(self) -> int:
        return self.prop_int("write.target-file-size-bytes", 256 * 1024 * 1024)

    @property
    def small_file_bytes(self) -> int:
        return self.prop_int("compact.small-file-bytes", 64 * 1024 * 1024)

    @property
    def metadata_dir(self) -> str:
        return meta.metadata_dir(self.root)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, DATA_DIR)

    def refresh(self) -> "Table":
        self.md = meta.load_metadata(self.root)
        return self

    def stats_columns(self) -> set[str] | None:
        """Columns we track min/max for: all non-binary top-level columns."""
        return {f.name for f in self.schema.fields if not isinstance(f.dataType, T.BinaryType)}

    @property
    def bloom_columns(self) -> list[str]:
        """Columns getting per-file Bloom filters in the manifest (table
        property 'write.bloom-columns', comma-separated; default none).
        Stamped at append time (collect_stats pays one pruned column read
        per new file) and refreshed by every Arrow rewrite task; a file
        without a bloom is always treated as might-contain."""
        prop = self.md.properties.get("write.bloom-columns", "")
        return [c.strip() for c in prop.split(",") if c.strip()]

    # ---- snapshot / manifest access ----------------------------------------
    def snapshots(self) -> list[meta.Snapshot]:
        return list(self.md.snapshots)

    def current_snapshot(self) -> meta.Snapshot | None:
        if self._branch is not None:
            return self._resolve_snapshot()
        return self.md.current_snapshot()

    def _resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        ref: str | None = None,
    ) -> meta.Snapshot | None:
        if ref is None and snapshot_id is None and as_of_ms is None:
            ref = self._branch  # branch views read their own head
        if ref is not None:
            if ref not in self.md.refs:
                raise KeyError(f"ref {ref!r} not found on {self.root}")
            return self.md.snapshot_by_id(self.md.refs[ref])
        if snapshot_id is not None:
            return self.md.snapshot_by_id(snapshot_id)
        if as_of_ms is not None:
            return self.md.snapshot_as_of(as_of_ms)
        return self.md.current_snapshot()

    def live_entries(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        ref: str | None = None,
    ) -> list[mf.ManifestEntry]:
        snap = self._resolve_snapshot(snapshot_id, as_of_ms, ref)
        if snap is None:
            return []
        return mf.read_manifests(self.metadata_dir, snap.manifests)

    def entries_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Manifest entries as a DataFrame — the metadata-scan source (S3)
        feeding health analysis / compaction planning / skew metrics."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None or not snap.manifests:
            return local_df(spark, [], _entries_spark_schema())
        paths = [os.path.join(self.metadata_dir, m) for m in snap.manifests]
        # explicit schema: manifests written before a manifest-schema
        # addition (blooms, deletes) null-fill instead of failing the read
        return spark.read.schema(_entries_spark_schema()).parquet(*paths)

    def history_df(self, spark: SparkSession) -> DataFrame:
        """Snapshot history as a DataFrame (Iceberg ``table.history`` /
        ``table.snapshots`` metadata-table analog): one row per snapshot
        with its lineage and summary. Driver-side metadata — O(#snapshots),
        bounded by retention."""
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                s.sequence_number,
                s.timestamp_ms,
                s.operation,
                json.dumps(s.summary, sort_keys=True, default=str),
                s.snapshot_id == self.md.current_snapshot_id,
            )
            for s in self.md.snapshots
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "timestamp_ms long, operation string, summary string, is_current boolean",
        )

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Named refs (tags + branches) as a DataFrame (Iceberg ``table.refs``)."""
        return spark.createDataFrame(
            [
                (k, v, "branch" if k in self.md.branches else "tag")
                for k, v in sorted(self.md.refs.items())
            ],
            "name string, snapshot_id long, type string",
        )

    # ---- incremental (changes-between-snapshots) scan ------------------------
    def _lineage_chain(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> list[meta.Snapshot]:
        """Snapshots in ``(from, to]`` ordered oldest → newest, by walking
        parent ids back from ``to``. IncrementalScanError when ``from`` is
        not an ancestor of ``to`` (expired, or history diverged)."""
        to_snap = self._resolve_snapshot(to_snapshot_id)
        if to_snap is None:
            raise IncrementalScanError("table has no snapshots")
        chain: list[meta.Snapshot] = []
        cur: meta.Snapshot | None = to_snap
        try:
            while cur is not None and cur.snapshot_id != from_snapshot_id:
                chain.append(cur)
                cur = (
                    self.md.snapshot_by_id(cur.parent_id)
                    if cur.parent_id is not None
                    else None
                )
        except KeyError as e:  # an ancestor expired mid-walk
            raise IncrementalScanError(str(e)) from e
        if cur is None:
            raise IncrementalScanError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snap.snapshot_id} (expired, or history diverged)"
            )
        chain.reverse()
        return chain

    def incremental_entries(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        skip_non_append: bool = False,
    ) -> list[mf.ManifestEntry]:
        """Manifest entries appended in ``(from_snapshot_id, to_snapshot_id]``
        — Iceberg's incremental append scan. Walks the snapshot lineage
        backwards from ``to`` and collects each append's added manifests
        (``snap.manifests − parent.manifests``; manifests are immutable, so
        the set difference is exactly the appended files). ``replace``
        snapshots (compaction/clustering/evolution) are row-preserving and
        contribute nothing; any other operation in the range — overwrite,
        merge, rollback — means the delta is not append-only and raises
        :class:`IncrementalScanError`, as does an expired/unreachable start
        snapshot — unless ``skip_non_append`` (Iceberg's
        streaming-skip-overwrite-snapshots option), which skips such
        commits instead (the consumer sees appends only; deletes in the
        range are NOT retracted). Cost is O(appended files), never
        O(table)."""
        entries: list[mf.ManifestEntry] = []
        for s in self._lineage_chain(from_snapshot_id, to_snapshot_id):
            if s.operation == "append":
                parent_manifests = (
                    set(self.md.snapshot_by_id(s.parent_id).manifests)
                    if s.parent_id is not None
                    else set()
                )
                added = [m for m in s.manifests if m not in parent_manifests]
                entries.extend(mf.read_manifests(self.metadata_dir, added))
            elif s.operation in ROW_PRESERVING_OPS or skip_non_append:
                continue
            else:
                raise IncrementalScanError(
                    f"snapshot {s.snapshot_id} is a non-append-only "
                    f"{s.operation!r} commit; incremental read impossible"
                )
        return entries

    def incremental_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Rows appended in ``(from, to]`` as a DataFrame (empty DataFrame
        with the table schema when nothing was appended). The CDC feed for
        incremental MV refresh and streaming backfill: readers pay for the
        delta's bytes only, regardless of table size."""
        entries = self.incremental_entries(from_snapshot_id, to_snapshot_id)
        schema = self.schema
        if not entries:
            df = local_df(spark, [], schema)
        else:
            paths = [os.path.join(self.root, e.path) for e in entries]
            df = spark.read.schema(schema).parquet(*paths)
        if columns:  # projection applies on the empty delta too
            df = df.select(*columns)
        return df

    def changelog_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Row-level CDC between two snapshots — Iceberg's
        ``create_changelog_view`` (reference parity: the Iceberg SQL
        procedure; no reference-repo counterpart — the reference reads whole
        snapshots). Unlike :meth:`incremental_scan`, which REFUSES
        non-append history, this emits every row-level change across ANY
        commit sequence: appends → ``insert`` rows, overwrite/merge/rollback
        removed files → ``delete`` rows (their live pre-image), MoR
        delete-vector commits → ``delete`` rows for exactly the newly
        tombstoned positions, and rollbacks past a delete resurrect those
        positions as ``insert``. Row-preserving ``replace`` snapshots
        (compaction/clustering/evolution) contribute nothing, so maintenance
        never pollutes the feed with carryover churn.

        Output = table columns (or ``columns``) plus ``_change_type``
        ('insert'|'delete'), ``_change_ordinal`` (commit order within the
        range) and ``_commit_snapshot_id`` — the Iceberg changelog metadata
        column names, so downstream CDC-apply code ports verbatim.

        Scale shape: manifests are immutable, so each commit diffs at
        manifest-file granularity first (shared manifests are never read);
        within differing manifests, entries cancel path-wise — a CoW MERGE
        that rewrote 3 of 10^6 files reads 3 files' worth of data plus the
        entry metadata of the differing manifests only. DV deltas semi-join
        ``(file, pos)`` against the new tombstones (broadcast under
        ``dv.DV_BROADCAST_MAX_BYTES``), cost ∝ touched files, never O(table).
        """
        schema = self.schema
        cols = list(columns) if columns else schema.fieldNames()
        out_schema = T.StructType(
            [schema[c] for c in cols]
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_change_ordinal", T.IntegerType(), False),
                T.StructField("_commit_snapshot_id", T.LongType(), False),
            ]
        )

        def rows_of(entries: list[mf.ManifestEntry]) -> DataFrame | None:
            """Live rows of these entries (their DVs applied) — the insert
            image of added files / the delete pre-image of removed files."""
            return self._scan_with_deletes(spark, entries, schema) if entries else None

        def rows_at(rel_paths: list[str], dv_rel: list[str]) -> DataFrame:
            """Rows of ``rel_paths`` at exactly the positions listed in
            ``dv_rel`` (the tombstone delta) — one semi-join, mirror image
            of the MoR anti-join."""
            return dv.scan(spark, self.root, schema, rel_paths, schema.fieldNames()).join(
                dv.frame(spark, self.root, dv_rel, rel_paths), [dv.FP, dv.POS], "left_semi"
            )

        parts: list[DataFrame] = []
        ordinal = 0
        for s in self._lineage_chain(from_snapshot_id, to_snapshot_id):
            if s.operation in ROW_PRESERVING_OPS:
                continue

            def tag(df: DataFrame | None, kind: str, _s=s, _o=ordinal) -> None:
                if df is not None:
                    parts.append(
                        df.select(
                            *cols,
                            F.lit(kind).alias("_change_type"),
                            F.lit(_o).cast("int").alias("_change_ordinal"),
                            F.lit(_s.snapshot_id).cast("long").alias(
                                "_commit_snapshot_id"
                            ),
                        )
                    )

            parent = (
                self.md.snapshot_by_id(s.parent_id)
                if s.parent_id is not None
                else None
            )
            pman = set(parent.manifests) if parent else set()
            cman = set(s.manifests)
            inserts, deletes, changed = self._changelog_diff(
                spark,
                [m for m in (parent.manifests if parent else []) if m not in cman],
                [m for m in s.manifests if m not in pman],
            )
            tag(rows_of(inserts), "insert")
            tag(rows_of(deletes), "delete")
            # shared paths whose tombstone set moved: grew → those positions
            # died (MoR delete); shrank → a rollback resurrected them. Group
            # by the DV delta so one semi-join serves every file touched by
            # the same delete commit (the common case: one DV file/commit).
            grew, shrank = group_dv_delta(changed)
            for dvs, paths in sorted(grew.items(), key=lambda kv: kv[1]):
                tag(rows_at(paths, sorted(dvs)), "delete")
            for dvs, paths in sorted(shrank.items(), key=lambda kv: kv[1]):
                tag(rows_at(paths, sorted(dvs)), "insert")
            ordinal += 1

        if not parts:
            return local_df(spark, [], out_schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _changelog_diff(
        self,
        spark: SparkSession,
        removed_manifests: list[str],
        added_manifests: list[str],
    ) -> tuple[list[mf.ManifestEntry], list[mf.ManifestEntry], list[tuple[str, list[str], list[str]]]]:
        """Path-wise entry diff for one commit: (added-only entries,
        removed-only entries, [(path, new_dv_paths, gone_dv_paths)] for
        shared paths whose tombstone set moved).

        Driver route below ``scan.plan-distributed-threshold`` footer rows.
        Beyond it — a DV or overwrite commit rewrites EVERY manifest, so a
        10^6-file table would otherwise materialize 2×10^6 entries on the
        driver — the diff runs as a Spark full-outer join on path over the
        two manifest sets, unchanged files (same path, same DV set) are
        dropped executor-side, and the driver collects only the CHANGED
        files: O(changed), mirroring ``_plan_scan_distributed``."""
        if not self.plans_distributed(removed_manifests + added_manifests):
            return diff_commit_entries(
                self.metadata_dir, removed_manifests, added_manifests
            )

        def side(ms: list[str], col: str):
            if not ms:
                return None
            return (
                spark.read.schema(_entries_spark_schema())
                .parquet(*[os.path.join(self.metadata_dir, m) for m in ms])
                .select("path", F.coalesce("deletes", F.lit("[]")).alias(col))
            )

        a = side(added_manifests, "a_del")
        r = side(removed_manifests, "r_del")
        if a is None and r is None:
            return [], [], []

        def dv_paths(col: str):
            return F.array_sort(
                F.coalesce(
                    F.transform(
                        F.from_json(
                            F.col(col), "array<struct<path:string,count:long>>"
                        ),
                        lambda x: x["path"],
                    ),
                    F.array().cast("array<string>"),
                )
            )

        if a is None:
            survivors = r.withColumn("a_del", F.lit(None).cast("string"))
        elif r is None:
            survivors = a.withColumn("r_del", F.lit(None).cast("string"))
        else:
            survivors = a.join(r, "path", "full_outer").filter(
                F.col("a_del").isNull()
                | F.col("r_del").isNull()
                | (dv_paths("a_del") != dv_paths("r_del"))
            )
        rows = survivors.select("path", "a_del", "r_del").collect()
        inserts, deletes, changed = [], [], []
        for row in rows:
            if row["r_del"] is None:
                inserts.append(
                    mf.ManifestEntry(
                        path=row["path"], partition={}, size_bytes=0,
                        record_count=0, deletes=json.loads(row["a_del"]),
                    )
                )
            elif row["a_del"] is None:
                deletes.append(
                    mf.ManifestEntry(
                        path=row["path"], partition={}, size_bytes=0,
                        record_count=0, deletes=json.loads(row["r_del"]),
                    )
                )
            else:
                pdv = {d["path"] for d in json.loads(row["r_del"])}
                cdv = {d["path"] for d in json.loads(row["a_del"])}
                changed.append((row["path"], sorted(cdv - pdv), sorted(pdv - cdv)))
        return inserts, deletes, changed

    # ---- scan ---------------------------------------------------------------
    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        prune: Sequence[PrunePredicate] | None = None,
        columns: Sequence[str] | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read a snapshot as a DataFrame with manifest-level file pruning.

        Pruning happens before Spark sees any path: partition values and
        per-file min/max bounds eliminate files (the engine-side version of
        Iceberg scan planning; Parquet row-group pushdown still applies
        afterwards inside Spark's reader).

        Above ``scan.plan-distributed-threshold`` entries (10^4 default,
        counted from manifest FOOTERS — no entry is read to decide) the
        pruning itself runs as a Spark job over ``entries_df``: the driver
        never materializes a ManifestEntry for a pruned-out file and holds
        only the surviving (path, deletes) pairs — the minimum a path-list
        read can carry. Very large surviving sets are read in bounded
        unions so no single InMemoryFileIndex sees a 10^6-path burst.
        """
        snap = self._resolve_snapshot(snapshot_id, as_of_ms, ref)
        schema = self.schema
        if snap is None or not snap.manifests:
            df = local_df(spark, [], schema)
            return df.select(*columns) if columns else df
        if prune:
            # probe state (sorted values + Bloom key hashes for 'in' sets)
            # computed once here; both planners — and, distributed, every
            # executor task via the pickled predicate — reuse it per file
            prune = prepare_predicates(prune)
        if self.plans_distributed(snap.manifests):
            # reads need only (path, deletes): lightweight entries keep the
            # MoR path identical under both planners
            entries = [
                mf.ManifestEntry(path=p, partition={}, size_bytes=0, record_count=0, deletes=d)
                for p, d in self._plan_scan_distributed(spark, snap, prune)
            ]
        else:
            entries = mf.read_manifests(self.metadata_dir, snap.manifests)
            if prune:
                entries = [e for e in entries if entry_matches(e, prune)]
        if entries:
            df = self._scan_with_deletes(spark, entries, schema)
        else:
            df = local_df(spark, [], schema)
        if columns:
            df = df.select(*columns)
        return df

    def _read_paths(
        self, spark: SparkSession, schema: T.StructType, rel_paths: list[str]
    ) -> DataFrame:
        """One reader for ≤dv.SCAN_READ_BATCH paths; bounded unions beyond —
        Spark's file index (listing, driver-side FileStatus array) then
        grows in steps instead of one 10^6-element spike."""
        paths = [os.path.join(self.root, p) for p in rel_paths]
        step = dv.SCAN_READ_BATCH
        df = None
        for i in range(0, len(paths), step):
            part = spark.read.schema(schema).parquet(*paths[i : i + step])
            df = part if df is None else df.unionByName(part)
        return df

    def _plan_scan_distributed(
        self,
        spark: SparkSession,
        snap: meta.Snapshot,
        prune: Sequence[PrunePredicate] | None,
    ) -> list[tuple[str, list]]:
        """Manifest pruning as a Spark job: entries stream through executors
        (Arrow-batched), `entry_matches` — the SAME verdict the driver path
        uses, partition + bounds + bloom — filters there, and only surviving
        (path, deletes) pairs come back. Driver memory is O(survivors), not
        O(#files); a point-lookup on a 10^7-file table collects a handful of
        rows."""
        mpaths = [os.path.join(self.metadata_dir, m) for m in snap.manifests]
        edf = spark.read.schema(_entries_spark_schema()).parquet(*mpaths)
        preds = list(prune) if prune else []
        # JVM prefilter for partition '='/'in' predicates: a point-lookup on
        # a 10^7-file table should not stream every entry through Python.
        # Strictly conservative — only drops rows whose partition key is
        # PRESENT and provably excluded. Conservative means matching every
        # JSON rendering Python equality would accept: an int predicate 3
        # must keep a stored float 3.0 ('3.0') and a stored bool true
        # (Python 1 == True), so those renderings join the accept set.
        # Absent keys pass through to the authoritative entry_matches
        # verdict below.
        for p in preds:
            if p.op not in ("=", "in") or not p.column.startswith("_p_"):
                continue
            vals = list(p.value) if p.op == "in" else [p.value]
            if not all(
                isinstance(v, (int, str)) and not isinstance(v, bool) for v in vals
            ):
                continue
            accept: set[str] = set()
            for v in vals:
                accept.add(str(v))
                if isinstance(v, int):
                    accept.add(str(float(v)))  # stored double: 3 ≙ '3.0'
                    if v in (0, 1):
                        accept.add("true" if v else "false")  # stored bool
            jv = F.get_json_object("partition", f"$.{p.column}")
            edf = edf.filter(jv.isNull() | jv.isin(sorted(accept)))

        def _prune_batches(batches):
            import pandas as pd

            for pdf in batches:
                keep_p, keep_d = [], []
                for r in pdf.to_dict("records"):
                    if preds:
                        e = mf.ManifestEntry.from_row(
                            {
                                **r,
                                "partition": r["partition"] or "{}",
                                "lower_bounds": r["lower_bounds"] or "{}",
                                "upper_bounds": r["upper_bounds"] or "{}",
                                "null_counts": r["null_counts"] or "{}",
                                "blooms": r["blooms"] or "{}",
                                "deletes": r["deletes"] or "[]",
                            }
                        )
                        if not entry_matches(e, preds):
                            continue
                    keep_p.append(r["path"])
                    keep_d.append(r["deletes"] or "[]")
                yield pd.DataFrame({"path": keep_p, "deletes": keep_d})

        rows = edf.mapInPandas(_prune_batches, "path string, deletes string").collect()
        return [(r["path"], json.loads(r["deletes"])) for r in rows]

    def _scan_with_deletes(
        self, spark: SparkSession, entries: Sequence[mf.ManifestEntry], schema: T.StructType
    ) -> DataFrame:
        """Live rows of ``entries``' files (merge-on-read): tombstoned files
        drop deleted positions with one anti-join against their DVs
        (``dv.live``: broadcast when small — the common case, deletes are a
        sliver of the table and maintenance absorbs them — else a shuffle
        join); clean files union in untouched, they never pay the join.
        Scale shape: cost ∝ tombstoned bytes + DV rows; untouched files
        stream through the ordinary vectorized scan."""
        cols = schema.fieldNames()
        clean = [e.path for e in entries if not e.deletes]
        dirty = [e for e in entries if e.deletes]
        parts = [self._read_paths(spark, schema, clean)] if clean else []
        if dirty:
            ddf = dv.scan(spark, self.root, schema, [e.path for e in dirty], cols)
            parts.append(dv.live(spark, self.root, ddf, dirty).select(*cols))
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def _entry_matches(self, e: mf.ManifestEntry, preds: Sequence[PrunePredicate]) -> bool:
        return entry_matches(e, preds)

    def bucket_value(self, spark: SparkSession, source_value) -> int | None:
        """Compute the bucket partition value for a key (point-lookup pruning,
        SURVEY §2.2 P8). Uses Spark's own xxhash64 for consistency with the
        write path."""
        for f in self.partition_spec.fields:
            if f.transform == "bucket":
                row = spark.range(1).select(
                    F.pmod(F.xxhash64(F.lit(source_value)), F.lit(f.num_buckets)).alias("b")
                ).first()
                return int(row["b"])
        return None

    # ---- writes -------------------------------------------------------------
    def _stage_dir(self) -> str:
        d = os.path.join(self.root, STAGING_DIR, uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        return d

    def write_data_files(
        self,
        df: DataFrame,
        num_files: int | None = None,
        sort_within: Sequence[str] | None = None,
        stage_dir: str | None = None,
        distribution: str = "hash",
    ) -> list[mf.ManifestEntry]:
        """Two-phase write, phase 1: write Parquet to staging, publish files
        into data/, return manifest entries (NOT yet committed).

        Partition columns are computed executor-side from the spec; files
        land under hive-style partition dirs.

        ``distribution`` mirrors the reference's write.distribution-mode
        (production_bootstrap.py:239-240):
          - "hash": shuffle by partition columns → one file per partition
            value per task set (healthy layout);
          - "fragment": round-robin into ``num_files`` tasks → each task
            writes a file per partition value it holds (deliberately
            fragmented layout, the unhealthy state T1 detects).
        """
        spark = df.sparkSession
        spec = self.partition_spec
        pcols = spec.partition_columns()
        out = df
        for f in spec.fields:
            out = out.withColumn(f.partition_column, f.to_column())
        if num_files is not None:
            if pcols and distribution == "hash":
                out = out.repartition(num_files, *pcols)
            else:
                out = out.repartition(num_files)
        if sort_within:
            out = out.sortWithinPartitions(*([*pcols, *sort_within] if pcols else sort_within))
        elif self.sort_order.fields:
            sc = [f.column for f in self.sort_order.fields if f.column in df.columns]
            if sc:
                out = out.sortWithinPartitions(*([*pcols, *sc] if pcols else sc))

        staging = stage_dir or self._stage_dir()
        writer = out.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(staging)
        return self.publish_staged(spark, staging)

    def publish_staged(
        self,
        spark: SparkSession,
        staging: str,
        stats_columns: set[str] | None = None,
        drop_partition_keys: set[str] | None = None,
    ) -> list[mf.ManifestEntry]:
        """Phase-1b: move staged Parquet into data/ and build entries with
        distributed footer stats. Idempotent w.r.t. crash-before-commit:
        files in data/ unreferenced by any manifest are orphans, swept by
        maintenance (reference: ops/fix_iceberg_registration.py:45-74)."""
        os.makedirs(self.data_dir, exist_ok=True)
        published: list[tuple[str, dict]] = []  # (relpath, partition)
        for dirpath, _dirnames, filenames in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            partition = {}
            if rel != ".":
                for part in rel.split(os.sep):
                    if "=" in part:
                        k, v = part.split("=", 1)
                        if drop_partition_keys and k in drop_partition_keys:
                            continue  # physical sub-split, not a spec partition
                        partition[k] = _parse_partition_value(v)
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                sub = "" if rel == "." else rel
                destdir = os.path.join(self.data_dir, sub)
                os.makedirs(destdir, exist_ok=True)
                newname = f"{uuid.uuid4().hex[:8]}-{fn}"
                os.rename(os.path.join(dirpath, fn), os.path.join(destdir, newname))
                relpath = os.path.join(DATA_DIR, sub, newname) if sub else os.path.join(DATA_DIR, newname)
                published.append((relpath, partition))
        shutil.rmtree(staging, ignore_errors=True)

        abs_paths = [os.path.join(self.root, rp) for rp, _ in published]
        stats = mf.collect_stats(
            spark,
            abs_paths,
            stats_columns if stats_columns is not None else self.stats_columns(),
            bloom_columns=self.bloom_columns,
        )
        entries = []
        for (relpath, partition), ap in zip(published, abs_paths):
            st = stats[ap]
            entries.append(
                mf.ManifestEntry(
                    path=relpath,
                    partition=partition,
                    size_bytes=os.path.getsize(ap),
                    record_count=st["record_count"],
                    lower_bounds=st["lower_bounds"],
                    upper_bounds=st["upper_bounds"],
                    null_counts=st["null_counts"],
                    blooms=st.get("blooms", {}),
                )
            )
        return entries

    # ---- commits ------------------------------------------------------------
    def _commit(
        self,
        build: Callable[[meta.TableMetadata], meta.Snapshot],
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        """Optimistic-retry commit loop. ``set_properties`` rides in the
        SAME metadata commit as the snapshot — the atomicity hook for
        bookkeeping that must never drift from the data (e.g. a stream's
        max committed epoch, an index's source-snapshot freshness stamp).

        On a branch view the metadata is REPOSITIONED at the branch head
        while ``build`` runs, so every commit kind — append, overwrite,
        replace (and its liveness/DV conflict guards), delete — applies its
        exact main-branch semantics against the branch state, and the
        resulting snapshot advances ``refs[branch]`` while main's head is
        left untouched. One code path, no per-op branch plumbing."""
        for _attempt in range(5):
            md = meta.load_metadata(self.root)
            main_head = md.current_snapshot_id
            if self._branch is not None:
                if self._branch not in md.refs or self._branch not in md.branches:
                    raise KeyError(f"branch {self._branch!r} not found on {self.root}")
                md.current_snapshot_id = md.refs[self._branch]
            snap = build(md)
            if set_properties:
                md.properties.update({k: str(v) for k, v in set_properties.items()})
            md.apply_snapshot(snap)
            if self._branch is not None:
                md.refs[self._branch] = snap.snapshot_id
                md.current_snapshot_id = main_head
            try:
                meta.commit_metadata(self.root, md, md.version)
                self.md = md
                return snap
            except meta.ConflictError:
                continue
        raise meta.ConflictError(f"commit failed after retries on {self.root}")

    def append(
        self,
        df: DataFrame,
        num_files: int | None = None,
        distribution: str = "hash",
        extra_summary: dict | None = None,
    ) -> meta.Snapshot:
        entries = self.write_data_files(df, num_files=num_files, distribution=distribution)
        return self.commit_append(entries, extra_summary=extra_summary)

    def commit_append(
        self,
        entries: list[mf.ManifestEntry],
        extra_summary: dict | None = None,
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        def build(md: meta.TableMetadata) -> meta.Snapshot:
            seq = md.last_sequence_number + 1
            for e in entries:
                e.added_snapshot_id = seq
            name = mf.write_manifest(self.metadata_dir, entries, seq)
            parent = md.current_snapshot()
            manifest_list = (parent.manifests if parent else []) + [name]
            summary = {**file_totals("added", entries), **file_totals("removed", [])}
            if extra_summary:
                summary.update(extra_summary)
            return md.new_snapshot("append", manifest_list, summary)

        return self._commit(build, set_properties=set_properties)

    def overwrite(
        self,
        df: DataFrame,
        num_files: int | None = None,
        extra_summary: dict | None = None,
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        """Replace table contents (MV refresh path — reference
        ops/materialized_views.py:290 write_iceberg(mode='overwrite')).
        Old files stay on disk until snapshot expiry: time travel works.
        ``extra_summary``/``set_properties`` ride in the same commit so a
        caller's bookkeeping (e.g. an index rebuild's freshness stamp)
        cannot be split from the data by a crash."""
        entries = self.write_data_files(df, num_files=num_files)
        return self.commit_overwrite(
            entries, extra_summary=extra_summary, set_properties=set_properties
        )

    def commit_overwrite(
        self,
        entries: list[mf.ManifestEntry],
        extra_summary: dict | None = None,
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        """Commit already-written files as the table's NEW full contents
        (the metadata half of :meth:`overwrite`, for callers that wrote the
        files themselves — e.g. the Spark data-source writer, whose
        executors produce files + stats and ship only entry metadata to
        this driver-side commit)."""

        def build(md: meta.TableMetadata) -> meta.Snapshot:
            seq = md.last_sequence_number + 1
            for e in entries:
                e.added_snapshot_id = seq
            name = mf.write_manifest(self.metadata_dir, entries, seq)
            parent = md.current_snapshot()
            summary = {
                **file_totals("added", entries),
                **self._manifest_totals(parent.manifests if parent else [], "removed"),
            }
            if extra_summary:
                summary.update(extra_summary)
            return md.new_snapshot("overwrite", [name], summary)

        return self._commit(build, set_properties=set_properties)

    def commit_replace(
        self,
        removed_paths: set[str],
        added_entries: list[mf.ManifestEntry],
        operation: str = "replace",
        summary: dict | None = None,
        replace_all: bool = False,
        expected_snapshot_id: int | None = None,
        expected_dv_counts: dict[str, int] | None = None,
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        """Commit a rewrite: live files minus removed plus added, with a full
        manifest rewrite (T7): surviving entries are re-grouped by partition
        into fresh, bounded manifests re-deriving per-partition grouping.
        Data files themselves are untouched — old snapshots keep referencing
        them (CoW sharing; expiry refcounts, SURVEY §7.3 hard part 1).

        ``expected_dv_counts`` (path → #delete-vectors the planner saw on
        each removed entry) closes the one interleaving path liveness alone
        misses: a concurrent ``commit_delete_vectors`` keeps the path live
        but grows its tombstone list, and a CoW rewrite that planned against
        the OLD delete set would drop those tombstones with the replaced
        entry — resurrecting the concurrently-deleted rows through the
        rewritten output. If any removed entry's DV count moved since
        planning, the commit fails with ConflictError and the caller
        replans (mirror image of commit_delete_vectors' guard against
        concurrently-rewritten files).

        ``replace_all=True`` replaces EVERY live file without materializing
        the removed set (the whole-table-rewrite commit used by the
        distributed cluster planner, where the input list never exists as a
        driver object). Because it cannot tolerate concurrent appends the
        way the removed-set form does (a file appended mid-rewrite would be
        silently dropped), it requires ``expected_snapshot_id`` and fails
        with ConflictError if the table moved past it — the same validation
        Iceberg's RewriteDataFiles applies to conflicting commits. (That
        snapshot pin also subsumes the DV-count check: a concurrent DV
        commit advances the snapshot id.)"""
        if replace_all and expected_snapshot_id is None:
            raise ValueError("replace_all requires expected_snapshot_id")

        def build(md: meta.TableMetadata) -> meta.Snapshot:
            seq = md.last_sequence_number + 1
            snap = md.current_snapshot()
            if replace_all:
                if snap is not None and snap.snapshot_id != expected_snapshot_id:
                    raise meta.ConflictError(
                        f"replace_all planned at snapshot {expected_snapshot_id} "
                        f"but table is now at {snap.snapshot_id}"
                    )
                survivors: list[mf.ManifestEntry] = []
                # removed totals from manifest columns only (no entry
                # materialization — replace_all exists to avoid exactly that)
                removed = self._manifest_totals(snap.manifests if snap else [], "removed")
            else:
                current = mf.read_manifests(self.metadata_dir, snap.manifests) if snap else []
                live_paths = {e.path for e in current}
                gone = removed_paths - live_paths
                if gone:
                    # a file planned for replacement is no longer live: a
                    # concurrent commit (e.g. MERGE) rewrote or dropped it,
                    # and committing would resurrect its rows through the
                    # rewritten output. Fail the rewrite, never the data —
                    # Iceberg's RewriteFiles applies the same validation.
                    raise meta.ConflictError(
                        f"{len(gone)} file(s) planned for replacement are no "
                        f"longer live (concurrent commit): {sorted(gone)[:3]}..."
                    )
                if expected_dv_counts is not None:
                    drifted = [
                        e.path
                        for e in current
                        if e.path in removed_paths
                        and len(e.deletes) != expected_dv_counts.get(e.path, 0)
                    ]
                    if drifted:
                        raise meta.ConflictError(
                            f"{len(drifted)} file(s) planned for replacement "
                            f"gained/lost delete vectors since planning "
                            f"(concurrent delete commit); replan the rewrite: "
                            f"{sorted(drifted)[:3]}..."
                        )
                survivors = [e for e in current if e.path not in removed_paths]
                removed = file_totals(
                    "removed", [e for e in current if e.path in removed_paths]
                )
            for e in added_entries:
                e.added_snapshot_id = seq
            manifest_names = rewrite_manifests(self.metadata_dir, survivors + added_entries, seq)
            s: dict = {**file_totals("added", added_entries), **removed}
            if replace_all:
                # keep 'removed-files' numeric for summary aggregators; the
                # whole-table semantics travel on a dedicated boolean flag
                s["replace-all"] = True
            if summary:
                s.update(summary)
            return md.new_snapshot(operation, manifest_names, s)

        return self._commit(build, set_properties=set_properties)

    def commit_delete_vectors(
        self,
        dv_rel_path: str | None,
        counts_by_path: dict[str, int],
        summary: dict | None = None,
        added_entries: list[mf.ManifestEntry] | None = None,
        operation: str = "delete",
        expected_dv_counts: dict[str, int] | None = None,
        set_properties: dict | None = None,
    ) -> meta.Snapshot:
        """Commit a merge-on-read positional-delete: every touched data file's
        manifest entry gains a reference to ``dv_rel_path`` (Iceberg v2
        delete-file semantics — data files are untouched; readers anti-join
        the tombstones, maintenance rewrites absorb them). Fails with
        ConflictError if a touched file was concurrently rewritten — its
        positions would index the wrong rows — or, when
        ``expected_dv_counts`` (path → #DVs the planner observed) is given,
        if a touched file gained a tombstone set since planning: the
        planner's already-deleted exclusion ran against the old DVs, so
        committing could double-count rows both deletes matched.
        ``added_entries`` lets a MoR MERGE land its upsert files in the
        SAME snapshot as the tombstones (atomicity: readers see old rows
        disappear and new rows appear together, never one without the
        other). A pure-insert commit (empty ``counts_by_path``) is legal on
        an empty table — the first CDC upsert batch into a fresh table."""

        def build(md: meta.TableMetadata) -> meta.Snapshot:
            seq = md.last_sequence_number + 1
            snap = md.current_snapshot()
            if snap is None and counts_by_path:
                raise ValueError("cannot delete from an empty table")
            current = (
                mf.read_manifests(self.metadata_dir, snap.manifests) if snap else []
            )
            gone = set(counts_by_path) - {e.path for e in current}
            if gone:
                raise meta.ConflictError(
                    f"{len(gone)} tombstoned file(s) were concurrently rewritten; "
                    f"replan the delete: {sorted(gone)[:3]}..."
                )
            if expected_dv_counts is not None:
                stale = [
                    e.path
                    for e in current
                    if e.path in counts_by_path
                    and len(e.deletes) != expected_dv_counts.get(e.path, 0)
                ]
                if stale:
                    raise meta.ConflictError(
                        f"{len(stale)} file(s) gained tombstones since this delete "
                        f"was planned (concurrent delete); replan: {sorted(stale)[:3]}..."
                    )
            for e in current:
                n = counts_by_path.get(e.path)
                if n:
                    e.deletes = e.deletes + [{"path": dv_rel_path, "count": int(n)}]
            added = added_entries or []
            for e in added:
                e.added_snapshot_id = seq
            manifest_names = rewrite_manifests(self.metadata_dir, current + added, seq)
            deleted = int(sum(counts_by_path.values()))
            s = {
                "deleted-rows": deleted,
                "tombstoned-files": len(counts_by_path),
                "dv-file": dv_rel_path,
                **file_totals("added", added),
                # no data file leaves the table; its tombstoned rows do
                **file_totals("removed", []),
                "removed-records": deleted,
            }
            if summary:
                s.update(summary)
            return md.new_snapshot(operation, manifest_names, s)

        return self._commit(build, set_properties=set_properties)

    def restamp_latest_summary(self, key: str, value) -> None:
        """Set ``summary[key] = value`` on the LATEST snapshot — the
        freshness-stamp pattern shared by the secondary indexes (IVF,
        Hamming): a "nothing new to index" refresh must still record the
        source snapshot it now reflects, without an empty data commit.
        CAS-retried over freshly loaded metadata, so it composes with
        concurrent commits instead of failing on the first conflict."""

        def edit(md: meta.TableMetadata) -> None:
            if not md.snapshots:
                raise ValueError("cannot restamp an empty table")
            md.snapshots[-1].summary[key] = value

        self._commit_metadata_edit(edit)
        self.refresh()

    # ---- refs (tags) + rollback ----------------------------------------------
    def _commit_metadata_edit(self, edit: Callable[[meta.TableMetadata], None]) -> None:
        """CAS-retry loop for snapshot-free metadata edits (refs)."""
        for _attempt in range(5):
            md = meta.load_metadata(self.root)
            edit(md)
            try:
                meta.commit_metadata(self.root, md, md.version)
                self.md = md
                return
            except meta.ConflictError:
                continue
        raise meta.ConflictError(f"metadata edit failed after retries on {self.root}")

    @property
    def refs(self) -> dict[str, int]:
        return dict(self.md.refs)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a stable name (Iceberg table-ref tag).
        Tagged snapshots are protected from expiry and addressable in
        ``scan(ref=...)`` / ``live_entries(ref=...)``."""
        def edit(md: meta.TableMetadata) -> None:
            sid = snapshot_id if snapshot_id is not None else md.current_snapshot_id
            if sid is None:
                raise ValueError("cannot tag an empty table")
            md.snapshot_by_id(sid)  # must exist (KeyError otherwise)
            md.refs[name] = sid

        self._commit_metadata_edit(edit)
        return self.md.refs[name]

    def drop_tag(self, name: str) -> None:
        def edit(md: meta.TableMetadata) -> None:
            md.refs.pop(name, None)

        self._commit_metadata_edit(edit)

    # ---- branches (write-audit-publish) ---------------------------------------
    def branch(self, name: str) -> "Table":
        """A writable view positioned on branch ``name``: scans read the
        branch head, commits advance it. The underlying table files are
        shared; main is invisible to harm until ``fast_forward``."""
        if name not in self.md.refs or name not in self.md.branches:
            raise KeyError(f"branch {name!r} not found on {self.root}")
        view = Table(self.root, self.md, branch=name)
        view._manifest_counts = self._manifest_counts  # footers are immutable
        return view

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Fork an advanceable ref at a snapshot (default: current head) —
        the staging step of write-audit-publish (Iceberg branch refs /
        the spark.wap.branch flow): risky writes or maintenance land on the
        branch, get audited there, and reach readers only via
        ``fast_forward``. Branch heads are expiry-protected like tags."""
        def edit(md: meta.TableMetadata) -> None:
            sid = snapshot_id if snapshot_id is not None else md.current_snapshot_id
            if sid is None:
                raise ValueError("cannot branch an empty table")
            md.snapshot_by_id(sid)  # must exist
            if name in md.refs and name not in md.branches:
                raise ValueError(f"ref {name!r} already exists as a tag")
            md.refs[name] = sid
            if name not in md.branches:
                md.branches.append(name)

        self._commit_metadata_edit(edit)
        return self.md.refs[name]

    def drop_branch(self, name: str) -> None:
        def edit(md: meta.TableMetadata) -> None:
            if name in md.branches:
                md.refs.pop(name, None)
                md.branches.remove(name)

        self._commit_metadata_edit(edit)

    @staticmethod
    def _is_ancestor(md: meta.TableMetadata, ancestor_id: int, head_id: int) -> bool:
        cur: int | None = head_id
        while cur is not None:
            if cur == ancestor_id:
                return True
            try:
                cur = md.snapshot_by_id(cur).parent_id
            except KeyError:
                return False  # lineage expired below the candidate
        return False

    def fast_forward(self, name: str, drop: bool = False) -> meta.Snapshot:
        """Publish a branch: advance MAIN to the branch head, atomically and
        only if main's head is an ancestor of it (pure fast-forward —
        Iceberg's fastForwardBranch). If main moved since the fork, the
        publish fails with ConflictError instead of silently dropping the
        concurrent commits; re-stage, or ``cherry_pick`` append snapshots.
        ``drop=True`` retires the branch ref in the same metadata commit."""
        def edit(md: meta.TableMetadata) -> None:
            if name not in md.refs or name not in md.branches:
                raise KeyError(f"branch {name!r} not found on {self.root}")
            head = md.refs[name]
            if md.current_snapshot_id is not None and not self._is_ancestor(
                md, md.current_snapshot_id, head
            ):
                raise meta.ConflictError(
                    f"cannot fast-forward: main ({md.current_snapshot_id}) is "
                    f"not an ancestor of branch {name!r} ({head}); main moved "
                    f"since the fork — cherry-pick or re-stage"
                )
            md.current_snapshot_id = head
            if drop:
                md.refs.pop(name, None)
                md.branches.remove(name)

        self._commit_metadata_edit(edit)
        return self.md.current_snapshot()

    def cherry_pick(self, snapshot_id: int) -> meta.Snapshot:
        """Re-apply one APPEND snapshot's added manifests onto the current
        head as a new commit (Iceberg cherrypick_snapshot) — the publish
        path for an appended-on-branch batch when main has moved and
        fast-forward is refused. Only append snapshots are safe to replay
        this way (their delta is purely additive manifests); anything else
        raises."""
        def build(md: meta.TableMetadata) -> meta.Snapshot:
            src = md.snapshot_by_id(snapshot_id)
            if src.operation != "append":
                raise ValueError(
                    f"cherry-pick supports append snapshots only, got "
                    f"{src.operation!r} (publish replaces/deletes via fast-forward)"
                )
            parent_manifests = (
                set(md.snapshot_by_id(src.parent_id).manifests)
                if src.parent_id is not None
                else set()
            )
            added = [m for m in src.manifests if m not in parent_manifests]
            cur = md.current_snapshot()
            base = list(cur.manifests) if cur else []
            already = [m for m in added if m in base]
            if already:
                raise ValueError(
                    f"snapshot {snapshot_id} already applied ({len(already)} "
                    f"of its manifests are on the current head)"
                )
            return md.new_snapshot(
                "append",
                base + added,
                {
                    "cherry-picked-from": snapshot_id,
                    **self._manifest_totals(added, "added"),
                    **file_totals("removed", []),
                },
            )

        return self._commit(build)

    def rollback_to(self, snapshot_id: int) -> meta.Snapshot:
        """Restore a previous snapshot's state as a NEW commit whose manifest
        list is the target's (Iceberg rollback semantics, history-preserving:
        the bad commits stay visible to time travel; readers at the new head
        see the old rows). File refcounting keeps shared files alive."""
        def build(md: meta.TableMetadata) -> meta.Snapshot:
            target = md.snapshot_by_id(snapshot_id)
            return md.new_snapshot(
                "rollback",
                list(target.manifests),
                {"rollback-to-snapshot-id": snapshot_id},
            )

        return self._commit(build)

    # ---- schema evolution (T8: additive-only) --------------------------------
    def add_column(self, name: str, spark_type: T.DataType) -> None:
        """Metadata-only add-column; existing files null-fill on read
        (reference plans this but never applies it —
        ops/schema_evolution.py:105-166; additive-only policy :327-332)."""
        schema = self.schema
        if name in schema.fieldNames():
            raise ValueError(f"column {name} already exists")
        new_schema = T.StructType(list(schema.fields) + [T.StructField(name, spark_type, True)])
        next_id = max((f["id"] for f in self.md.schema_fields), default=0) + 1

        md = meta.load_metadata(self.root)
        md.schema_json = new_schema.json()
        md.schema_fields = md.schema_fields + [{"id": next_id, "name": name}]
        meta.commit_metadata(self.root, md, md.version)
        self.md = md


def file_totals(side: str, entries: Sequence[mf.ManifestEntry]) -> dict:
    """Commit-summary totals (``<side>-files/-bytes/-records``) of the data
    files a commit adds or removes; records are physical row counts."""
    return {
        f"{side}-files": len(entries),
        f"{side}-bytes": sum(e.size_bytes for e in entries),
        f"{side}-records": sum(e.record_count for e in entries),
    }


def rewrite_manifests(
    metadata_dir: str, entries: list[mf.ManifestEntry], seq: int, max_entries: int = 100_000
) -> list[str]:
    """T7 manifest rewrite: group entries by partition, emit bounded-size
    manifests (reference imports RewriteManifestsOperation but never calls
    it — ops/advanced_partitioning.py:11; we execute it)."""
    by_partition: dict[str, list[mf.ManifestEntry]] = {}
    for e in entries:
        key = json.dumps(e.partition, sort_keys=True)
        by_partition.setdefault(key, []).append(e)
    names: list[str] = []
    batch: list[mf.ManifestEntry] = []
    for key in sorted(by_partition):
        for e in by_partition[key]:
            batch.append(e)
            if len(batch) >= max_entries:
                names.append(mf.write_manifest(metadata_dir, batch, seq))
                batch = []
    if batch or not names:
        names.append(mf.write_manifest(metadata_dir, batch, seq))
    return names


def _parse_partition_value(v: str):
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    for cast in (int,):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def _entries_spark_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partition", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("record_count", T.LongType()),
            T.StructField("lower_bounds", T.StringType()),
            T.StructField("upper_bounds", T.StringType()),
            T.StructField("null_counts", T.StringType()),
            T.StructField("added_snapshot_id", T.LongType()),
            T.StructField("blooms", T.StringType()),
            T.StructField("deletes", T.StringType()),
        ]
    )
