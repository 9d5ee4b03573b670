"""T20 — predicate-localized column transform (UPDATE as maintenance).

GDPR-style redaction, recaptioning, or metadata repair at rest: rewrite
ONLY the files that contain rows matching a predicate, applying column
expressions to the matching rows — every untouched file stays in place
byte-for-byte, so the cost is ∝ touched files, never the corpus. The
reference has no UPDATE surface at all (its closest move is a full table
reload); this op completes the row-level mutation family next to MERGE
(maintenance/merge.py) and MoR DELETE (maintenance/deletes.py).

Shape (the 100x question):

  phase 1  ONE narrow scan of the candidate files (``dv.scan``) —
           Catalyst prunes the read to the predicate's columns plus each
           row's file and position (the payload column never rides
           through the filter) — yields the touched-file set, O(#touched)
           driver strings.
  phase 2  only the touched files re-read full-width; existing delete
           vectors are ANTI-JOINED out (the rewrite absorbs them, like
           compaction), the SET expressions evaluate inside whole-stage
           codegen gated on the predicate (non-matching rows in a touched
           file pass through unchanged), and one applyInArrow task per
           file writes the replacement in original row order through the
           staged-rewrite kernel (maintenance/rewrite.py), which also
           publishes it (Arrow-native: no pandas int64→float64 round-trip
           anywhere near the payload).
  commit   ``commit_replace`` with ``operation='update'`` (NOT the
           row-preserving 'replace': the changelog must emit the old rows
           as deletes and the new as inserts so CDC consumers see the
           update) guarded by ``expected_dv_counts`` — a concurrent
           delete on a touched file conflicts instead of resurrecting.

UPDATE semantics match SQL: every SET expression sees the ORIGINAL row
(simultaneous select, not sequential withColumn), and rows already
tombstoned by delete vectors do not resurrect.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..core import dv
from ..core.table import PrunePredicate, Table
from .checkpoint import Job, SystemTables
from .rewrite import STATS_SCHEMA, StagedRewrite


def transform_where(
    spark: SparkSession,
    table: Table,
    condition: str | Column,
    set_exprs: dict[str, str | Column],
    prune: list[PrunePredicate] | None = None,
    sys_tables: SystemTables | None = None,
    table_name: str = "",
) -> dict:
    """``UPDATE <table> SET <set_exprs> WHERE <condition>`` as a CoW
    maintenance rewrite of exactly the touched files."""
    job = Job(sys_tables, "update", table, table_name)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table", "updated_rows": 0}
    if prune is None and isinstance(condition, str):
        # simple conjunctions prune candidates at the manifest for free
        from .predicates import derive_prune_predicates

        prune = derive_prune_predicates(condition, table.schema)
    entries = table.live_entries()
    if prune:
        entries = [e for e in entries if table._entry_matches(e, prune)]
    if not entries:
        return {"status": "no-candidate-files", "updated_rows": 0}

    root = table.root
    schema = table.schema
    cols = schema.fieldNames()
    bad = sorted(set(set_exprs) - set(cols))
    if bad:
        raise ValueError(f"SET columns not in table schema: {bad}")
    # a partition-source SET would leave manifest partition values (and
    # the Hive directory) describing the OLD value: every later
    # partition-pruned read (delete_keys buckets, _p_ predicates) would
    # silently miss the row. Moving a row across partitions is a
    # DELETE + INSERT (MERGE), not an in-place rewrite.
    part_sources = {f.source for f in table.partition_spec.fields}
    bad = sorted(set(set_exprs) & part_sources)
    if bad:
        raise ValueError(
            f"SET touches partition-source columns {bad} — an in-place "
            "rewrite cannot move rows across partitions; use MERGE "
            "(delete + insert) instead"
        )
    # phase 1: touched-file discovery — Catalyst column-prunes this scan
    # to the predicate's columns + metadata. Tombstoned rows are excluded
    # HERE too: a file whose only matches are already-deleted rows must
    # not be rewritten (zero real updates, phantom CDC delete+insert
    # pairs for every live row it holds)
    p1 = dv.scan(spark, root, schema, [e.path for e in entries], cols).filter(cond)
    p1 = dv.live(spark, root, p1, entries)
    with job.phase("probe"):
        touched_fp = {r[0] for r in p1.select(dv.FP).distinct().collect()}
    touched = [e for e in entries if dv.uri(root, e.path) in touched_fp]
    if not touched:
        return {
            "status": "no-matching-rows",
            "updated_rows": 0,
            "candidate_files": len(entries),
            "seconds": round(time.time() - job.t0, 3),
        }
    expected_dv_counts = {e.path: len(e.deletes) for e in touched}

    # phase 2: full-width read of touched files only; tombstoned rows out;
    # SET expressions evaluate simultaneously against the original row
    rows = dv.scan(spark, root, schema, [e.path for e in touched], cols)
    rows = dv.live(spark, root, rows, touched)
    proj = [
        (
            F.when(
                cond,
                F.expr(set_exprs[c]) if isinstance(set_exprs[c], str) else set_exprs[c],
            )
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
        )
        for c in cols
    ]
    upd = rows.select(F.col(dv.FP).alias("_path"), dv.POS, cond.alias("_hit"), *proj)

    rw = StagedRewrite.begin(spark, table)
    idx_b = spark.sparkContext.broadcast({dv.uri(root, e.path): i for i, e in enumerate(touched)})

    def _write_file(tbl):
        # applyInArrow, NOT applyInPandas: pandas turns an int64 column
        # holding a null into float64 and silently rounds values > 2^53
        # (a 64-bit phash) even in rows the predicate never matched —
        # Arrow-native keeps every value bit-exact end to end
        import pyarrow as pa
        import pyarrow.compute as pc

        pa.set_cpu_count(1)
        tbl = tbl.sort_by([(dv.POS, "ascending")])
        fidx = idx_b.value[tbl["_path"][0].as_py()]
        n_hit = int(
            pc.sum(pc.fill_null(tbl["_hit"], False).cast(pa.int64())).as_py() or 0
        )
        data = tbl.select(list(cols)).cast(rw.arrow_schema)
        row = {**rw.write(data, f"u{fidx}.parquet"), "fidx": fidx, "updated": n_hit}
        return pa.Table.from_pylist([row]).select(out_cols)

    out_schema = "fidx long, updated long, " + STATS_SCHEMA
    out_cols = [c.split()[0] for c in out_schema.split(",")]
    with job.phase("write"):
        out_rows = upd.groupBy("_path").applyInArrow(_write_file, out_schema).collect()
    with job.phase("publish"):
        new_entries = rw.publish(out_rows, lambda r: touched[r["fidx"]].partition)
    updated_rows = sum(int(r["updated"]) for r in out_rows)
    out_bytes = sum(e.size_bytes for e in new_entries)

    with job.phase("commit"):
        snap2 = table.commit_replace(
            {e.path for e in touched},
            new_entries,
            operation="update",
            summary={
                "updated-rows": updated_rows,
                "rewritten-files": len(new_entries),
                "rewritten-bytes": out_bytes,
            },
            expected_dv_counts=expected_dv_counts,
        )
    done = job.finish(
        files_before=len(touched), files_after=len(new_entries),
        bytes_before=sum(e.size_bytes for e in touched), bytes_after=out_bytes,
        rows=updated_rows, snapshot_id=snap2.snapshot_id,
        input_files=[e.path for e in touched], output_files=[e.path for e in new_entries],
    )
    return {
        "status": "ok",
        "updated_rows": updated_rows,
        "candidate_files": len(entries),
        "rewritten_files": len(new_entries),
        "untouched_files": len(entries) - len(touched),
        "snapshot_id": snap2.snapshot_id,
        "seconds": round(done["duration_ms"] / 1000, 3),
        **done,
    }
