"""T12 / J6 — MERGE INTO as a broadcast/hash-join copy-on-write rewrite.

Absent from the reference entirely (north-rule graft). Semantics follow
SQL MERGE with a source carrying ``_op ∈ {'upsert','delete'}``:

  upsert, key in target  → replace the target row
  upsert, key not in     → insert
  delete, key in target  → remove the row
  delete, key not in     → no-op

Copy-on-write at FILE granularity:
  1. touched files = the data files holding a LIVE row with a source key —
     found by the one Arrow key probe (``core/dv.py`` ``probe``, run by
     :func:`probe_keys`: manifest bounds, then the file's Bloom filter,
     then a read of the key column alone, minus the file's existing
     tombstones) against the broadcast source key set; a source too large
     to broadcast probes with a distributed semi-join of a JVM key-column
     scan instead (the reference's bucketed-join guidance,
     ops/performance_optimization.py: 254-259, maps to Spark
     broadcast/bucket pruning);
  2. bucket pruning first: with a BUCKET(N, key) partition spec, only
     files in source-key buckets are even probed;
  3. rewrite = survivors of touched files (anti-join on key) ∪ all upsert
     rows (unionByName — SURVEY §2.6 O4); untouched files are carried
     forward unchanged in the replace-snapshot commit;
  4. old snapshot still references the pre-merge files → time travel
     reproduces pre-merge results.

Planning routes like compaction/clustering: below ~10^4 files the manifest
is materialized on the driver; above, planning runs over ``entries_df`` —
the driver collects only bucket-pruned path strings for the probe and the
touched files' entry rows (bounded by the source key count), never the
whole manifest.

``strategy='mor'`` (or table property ``write.merge.mode=merge-on-read``)
switches step 3 to Iceberg-v2 merge-on-read: matched target rows become
positional tombstones and upserts append as new files, committed
atomically in a single snapshot — zero data-file rewrite. The probe tasks
of step 1 write their hits as DV fragments and ``dv.consolidate`` merges
them into ONE delete vector, so no pass re-scans the touched files (the
huge-source route alone re-scans them in the JVM). Wins when merges are
point-ish relative to file size (CoW rewrites gigabytes to drop a handful
of rows); scans pay the tombstone anti-join until routine compaction
absorbs the DVs. Both strategies are content-equivalent
(test_mor_merge_matches_cow_and_rewrites_nothing).

Each key may appear in at most one source row: a duplicate non-NULL key
raises before anything is written (Iceberg's "multiple source rows
matched one target row"), rather than leaving duplicate rows behind.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import dv
from ..core import manifests as mf
from ..core.local import local_df
from ..core.table import PrunePredicate, Table, prepare_predicates
from .checkpoint import Job, SystemTables
from .rewrite import StagedRewrite, file_spec, tasks_rdd

# key sets up to this many rows are broadcast (MERGE source keys and
# delete_keys' key set); ~16 MB of longs
BROADCAST_THRESHOLD_ROWS = 2_000_000


def _reject_duplicate_keys(key: str, dups: list) -> None:
    if dups:
        raise ValueError(
            f"MERGE source holds duplicate {key} values {sorted(dups, key=str)[:5]!r}: "
            "several source rows would match one target row"
        )


def _rewrite_touched_arrow(spark, table, touched_entries, key_set, key):
    """Per-file survivor rewrite via Arrow tasks (no shuffle).

    Returns (manifest entries for the survivor files, survivor row count).
    ``key_set`` is the already-collected source key set (shared with the
    probe — collected once per merge); each task set-filters one file's
    rows in Arrow and writes the survivor file + footer stats. SQL MERGE
    semantics: a NULL target key never matches any source key (NULL is
    dropped from the set and null rows are always survivors — same as the
    left_anti fallback). The key broadcast is destroyed once the job has
    collected: PySpark keeps every driver broadcast in a temp file that
    only ``destroy()`` removes."""
    keys_b = spark.sparkContext.broadcast({k for k in key_set if k is not None})
    rw = StagedRewrite.begin(spark, table)

    def _survivors(recs):
        import numpy as np
        import pyarrow as pa

        kset = keys_b.value
        for rec in recs:
            # absorb positional deletes before CoW filtering — a tombstoned
            # row must not resurrect into the survivor
            tbl = rw.read_live(rec["path"], rec["dv"])
            kvals = tbl[key].to_pylist()
            mask = np.fromiter(
                ((k is None) or (k not in kset) for k in kvals), bool, count=len(kvals)
            )
            surv = tbl.filter(pa.array(mask))
            if surv.num_rows:  # else the whole file was consumed by the merge
                yield {**rw.write(surv, f"m{rec['fidx']}.parquet"), "fidx": rec["fidx"]}

    try:
        rows = tasks_rdd(
            spark,
            [{"fidx": i, **file_spec(rw.root, e)} for i, e in enumerate(touched_entries)],
            _survivors,
            [e.size_bytes for e in touched_entries],
        ).collect()
    finally:
        keys_b.destroy()
    entries = rw.publish(rows, lambda r: touched_entries[r["fidx"]].partition)
    return entries, sum(e.record_count for e in entries)


def _write_upserts(table: Table, upserts: DataFrame, n: int) -> list:
    """Append the ``n`` upsert rows as ≈target-size files, sized by the
    table's average row (summed from the live manifests' size/record
    columns); returns their entries."""
    if not n:
        return []
    snap = table.current_snapshot()
    tot = table._manifest_totals(snap.manifests if snap else [], "live")
    b, r = tot["live-bytes"], tot["live-records"]
    avg_row = (b / max(1, r)) if b else 8192
    n_files = max(1, -(-int(n * avg_row) // table.target_file_size))
    return table.write_data_files(upserts, num_files=int(n_files))


def _bucket_field(table: Table, key: str):
    """The table's BUCKET(N, ``key``) partition field, or None. With one,
    only files in the buckets of a key set can hold one of its keys."""
    return next(
        (f for f in table.partition_spec.fields if f.transform == "bucket" and f.source == key),
        None,
    )


def _in_buckets(e: mf.ManifestEntry, bf, buckets: set) -> bool:
    return not e.partition or e.partition.get(bf.name, e.partition.get(bf.partition_column)) in buckets


def probe_keys(spark, table, specs, key_list, key, weights=None, write_dv=False):
    """The files of ``specs`` holding a live row whose ``key`` is in the
    broadcastable ``key_list``: the one key probe (:func:`dv.probe`) run
    through the kernel's ``tasks_rdd`` as one wave of one-core tasks in one
    Python stage. ``specs`` are manifest entries as rows: a list weighted
    by ``weights`` (file bytes) on the driver planning route, or an
    ``entries_df`` DataFrame on the distributed one, so the driver never
    holds a per-file object there. With ``write_dv`` each task writes its
    hits as one DV fragment (:func:`dv.write_fragment`), to be merged by
    :func:`dv.consolidate`. Returns (the touched entries sorted by path,
    the fragments' root-relative paths, the probe stats). The key
    broadcast is destroyed once the job has collected."""
    keys = prepare_predicates([PrunePredicate(key, "in", [k for k in key_list if k is not None])])
    keys_b = spark.sparkContext.broadcast(keys[0])
    root = table.root
    arrow_schema = mf.spark_to_arrow_schema(table.schema)
    accs = {s: spark.sparkContext.accumulator(0) for s in dv.PROBE_STATS}

    def _task(recs):
        stats = dict.fromkeys(accs, 0)
        entries = (mf.ManifestEntry.from_row(r) for r in recs)
        hits = list(dv.probe(root, entries, keys_b.value, arrow_schema, stats))
        for s, n in stats.items():
            accs[s].add(n)
        yield [e for e, _ in hits], dv.write_fragment(root, hits) if write_dv else None

    try:
        out = tasks_rdd(spark, specs, _task, weights).collect()
    finally:
        keys_b.destroy()
    touched = sorted((e for es, _ in out for e in es), key=lambda e: e.path)
    return touched, [f for _, f in out if f], {s: a.value for s, a in accs.items()}


def _touched_by_join(spark, table: Table, specs, src_keys: DataFrame, key: str) -> list:
    """The files of ``specs`` (as :func:`probe_keys` takes them) holding
    any key of a source too large to broadcast: a JVM key-column scan
    semi-joined with the distributed key set (the key column still prunes
    at the parquet reader; per-file setup amortizes over the big read).
    Only the pruned path list and the touched files' entry rows reach the
    driver."""
    local = isinstance(specs, list)
    paths = [r["path"] for r in specs] if local else [r[0] for r in specs.select("path").collect()]
    if not paths:
        return []
    tgt = dv.scan(spark, table.root, table.schema, paths, [key])
    rel_of = {dv.uri(table.root, p): p for p in paths}
    hit = tgt.join(src_keys, key, "left_semi").select(dv.FP).distinct().collect()
    rels = {rel_of[r[0]] for r in hit}
    if local:
        rows = [r for r in specs if r["path"] in rels]
    elif rels:
        rel_df = local_df(spark, [(p,) for p in rels], "path string")
        rows = [r.asDict() for r in specs.join(F.broadcast(rel_df), "path").collect()]
    else:
        rows = []
    return sorted((mf.ManifestEntry.from_row(r) for r in rows), key=lambda e: e.path)


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key: str = "image_id",
    op_col: str = "_op",
    sys_tables: SystemTables | None = None,
    table_name: str = "",
    strategy: str | None = None,  # cow | mor (default: table write.merge.mode, else cow)
    extra_summary: dict | None = None,  # merged into the commit summary (e.g. stream epoch)
    set_properties: dict | None = None,  # atomic with the commit (e.g. stream max-epoch)
) -> dict:
    job = Job(sys_tables, "merge", table, table_name)
    strategy = (strategy or table.properties.get("write.merge.mode", "cow")).lower()
    strategy = {"copy-on-write": "cow", "merge-on-read": "mor"}.get(strategy, strategy)
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    data_cols = table.schema.fieldNames()
    src = source.select(*data_cols, op_col).cache()
    try:
        with job.phase("probe"):
            bf = _bucket_field(table, key)
            # ONE summary job: rows per (op, key bucket) yields the source
            # row count, the op values, the source-key buckets for pruning
            # and the upsert-row count the write step needs
            by = [F.col(op_col).alias("op")]
            if bf is not None:
                by.append(bf.to_column().alias("b"))
            summary = src.groupBy(*by).count().collect()
            n_src = sum(r["count"] for r in summary)
            n_upserts = sum(r["count"] for r in summary if r["op"] == "upsert")
            # an unknown op (e.g. Debezium's 'insert'/'update') would silently
            # behave as a delete — every source key tombstones its target rows
            # and only op=='upsert' rows are re-inserted. Fail loudly instead.
            bad_ops = sorted(
                {r["op"] for r in summary if r["op"] not in ("upsert", "delete")}, key=str
            )
            if bad_ops:
                raise ValueError(
                    f"unknown {op_col} value(s) {bad_ops!r}: MERGE understands "
                    "'upsert' and 'delete' only"
                )
            buckets: set | None = {r["b"] for r in summary} if bf is not None else None

            # --- 1+2: find touched files (bucket-pruned probe, broadcast keys)
            # small/medium sources collect their keys ONCE (n_src rows, so
            # bounded by the threshold: a plain collect of the cached source,
            # deduplicated on the driver — no shuffle); the list feeds both
            # the probe's key broadcast and the Arrow rewrite's executor set
            # (the collected list also rejects duplicate keys with no job;
            # a huge source spends one key-count job on it)
            key_list: list | None = None
            if n_src <= BROADCAST_THRESHOLD_ROWS:
                key_counts = Counter(r[0] for r in src.select(key).collect())
                _reject_duplicate_keys(
                    key, [k for k, n in key_counts.items() if n > 1 and k is not None]
                )
                key_list = list(key_counts)
            else:
                dups = (
                    src.filter(F.col(key).isNotNull()).groupBy(key).count()
                    .filter(F.col("count") > 1).limit(5).collect()
                )
                _reject_duplicate_keys(key, [r[0] for r in dups])
                src_keys = src.select(key).distinct()

            # planning (Table.plans_distributed): below the threshold the
            # manifest materializes on the driver; above it entries stay in
            # entries_df and flow to the probe as a DataFrame (nothing
            # per-file on the driver), and only the touched files' entry
            # rows (bounded by the source key count, metadata-sized) come
            # back (same routing as plan_compaction_distributed /
            # execute_cluster)
            specs: list | DataFrame
            spec_weights: list | None = None
            if not table.plans_distributed():
                specs = [
                    e.to_row() for e in table.live_entries()
                    if buckets is None or _in_buckets(e, bf, buckets)
                ]
                spec_weights = [r["size_bytes"] for r in specs]
            else:
                specs = table.entries_df(spark)
                if buckets is not None:
                    bval = F.coalesce(
                        F.get_json_object("partition", f"$.{bf.name}"),
                        F.get_json_object("partition", f"$.{bf.partition_column}"),
                    ).cast("int")
                    specs = specs.filter(bval.isin(*buckets) | bval.isNull())

            probe_stats: dict = {}
            fragments: list = []
            if key_list is not None:
                # the one Arrow key probe; MoR's tasks also write their hits
                # as DV fragments, so no JVM pass re-scans the touched files
                touched_entries, fragments, probe_stats = probe_keys(
                    spark, table, specs, key_list, key, spec_weights, write_dv=strategy == "mor"
                )
            else:
                touched_entries = _touched_by_join(spark, table, specs, src_keys, key)

        # --- 3: rewrite touched files + write all upserts
        upserts = src.filter(F.col(op_col) == "upsert").select(*data_cols)
        if strategy == "mor":
            # merge-on-read: matched target rows become positional
            # tombstones (Iceberg v2 write.merge.mode=merge-on-read) and
            # upserts append as new files — ZERO data-file rewrite, one
            # atomic commit. The scale case this wins: point-ish merges
            # into large files, where CoW rewrites gigabytes to drop a
            # handful of rows; routine compaction absorbs the tombstones.
            with job.phase("write"):
                rel_dv, counts = dv.consolidate(table.root, fragments)
                if key_list is None and touched_entries:
                    # huge source: the probe found files, not positions
                    hits = dv.scan(
                        spark, table.root, table.schema, [e.path for e in touched_entries], [key]
                    ).join(src_keys, key, "left_semi").select(dv.FP, dv.POS)
                    rel_dv, counts = dv.write_hits(
                        spark, table.root, table._stage_dir(), hits, touched_entries
                    )
                new_entries = _write_upserts(table, upserts, n_upserts)
            if not counts and not new_entries:
                return {"status": "no-op", "strategy": "mor", "source_rows": n_src}
            with job.phase("commit"):
                snap = table.commit_delete_vectors(
                    rel_dv,
                    counts,
                    added_entries=new_entries,
                    operation="merge",
                    summary={
                        "source-rows": n_src,
                        "strategy": "merge-on-read",
                        **(extra_summary or {}),
                    },
                    expected_dv_counts={e.path: len(e.deletes) for e in touched_entries},
                    set_properties=set_properties,
                )
            tombstoned = int(sum(counts.values()))
            done = job.finish(
                files_before=len(counts), files_after=len(counts) + len(new_entries),
                bytes_after=sum(e.size_bytes for e in new_entries),
                rows=tombstoned + n_upserts, snapshot_id=snap.snapshot_id,
                input_files=sorted(counts), output_files=[e.path for e in new_entries],
            )
            return {
                "status": "committed",
                "strategy": "mor",
                "snapshot_id": snap.snapshot_id,
                "source_rows": n_src,
                "touched_files": len(counts),
                "tombstoned_rows": tombstoned,
                "files_added": len(new_entries),
                "probe": probe_stats,
                **done,
            }

        with job.phase("write"):
            new_entries: list = []
            n_surv = 0
            if touched_entries and n_src <= BROADCAST_THRESHOLD_ROWS:
                # Arrow per-file CoW (the common case): broadcast the source
                # key set, and each task reads ONE touched file with pyarrow,
                # drops rows whose key is in the set (upsert & delete keys
                # both leave the old file), writes the survivor file and
                # returns stats. No shuffle, no JVM row pipeline — same shape
                # as the compact rewrite, and the file-granularity CoW
                # Iceberg uses. Survivor files stay near target size (they
                # lose only matched rows); routine compaction handles any
                # shrinkage.
                new_entries, n_surv = _rewrite_touched_arrow(
                    spark, table, touched_entries, key_set=key_list, key=key
                )
            elif touched_entries:
                # huge-source fallback: distributed anti-join (keys don't fit
                # a broadcast) + re-bin to target-size files. Tombstoned
                # touched files go through the MoR read path so deleted rows
                # cannot resurrect into the rewrite.
                touched_df = table._scan_with_deletes(spark, touched_entries, table.schema)
                survivors = touched_df.join(src_keys, key, "left_anti")
                n_surv = survivors.count()
                if n_surv:
                    n_files = max(
                        1,
                        -(-sum(e.size_bytes for e in touched_entries) // table.target_file_size),
                    )
                    new_entries = table.write_data_files(survivors, num_files=int(n_files))
            new_entries += _write_upserts(table, upserts, n_upserts)
        n_new_rows = n_surv + n_upserts

        with job.phase("commit"):
            snap = table.commit_replace(
                {e.path for e in touched_entries},
                new_entries,
                operation="merge",
                summary={
                    "source-rows": n_src,
                    "touched-files": len(touched_entries),
                    **(extra_summary or {}),
                },
                # touched_entries are the plan-time snapshot of each file's
                # DV set (the CoW rewrite absorbed exactly those tombstones);
                # conflict if a concurrent delete grew any of them since
                expected_dv_counts={e.path: len(e.deletes) for e in touched_entries},
                set_properties=set_properties,
            )
        done = job.finish(
            files_before=len(touched_entries),
            files_after=len(new_entries),
            bytes_before=sum(e.size_bytes for e in touched_entries),
            bytes_after=sum(e.size_bytes for e in new_entries),
            rows=n_new_rows,
            snapshot_id=snap.snapshot_id,
            input_files=[e.path for e in touched_entries],
            output_files=[e.path for e in new_entries],
        )
        return {
            "status": "committed",
            "snapshot_id": snap.snapshot_id,
            "source_rows": n_src,
            "touched_files": len(touched_entries),
            "probe": probe_stats,
            "files_added": len(new_entries),
            "rows_rewritten": n_new_rows,
            **done,
        }
    finally:
        src.unpersist()
