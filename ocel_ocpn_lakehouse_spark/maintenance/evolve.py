"""T5 — partition-spec evolution (rebucket/repartition), EXECUTED.

The reference computes the optimal bucket count
(min(128, max(32, files//10)), ops/advanced_partitioning.py:141) and a
day-partition evolution spec, then stops ("would require table
evolution", :89-151). Here the spec change is a metadata commit and the
data rewrite runs through the standard staged-write path: every live file
is rewritten under the new spec in one Spark job, committed as a single
replace snapshot (time travel to the old layout still works).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..core import metadata as meta
from ..core.spec import PartitionSpec
from ..core.table import Table
from .checkpoint import Job, SystemTables


def suggest_bucket_count(total_files: int, lo: int = 32, hi: int = 128) -> int:
    """Reference formula: ops/advanced_partitioning.py:141."""
    return min(hi, max(lo, total_files // 10))


def evolve_partition_spec(
    spark: SparkSession,
    table: Table,
    new_spec: PartitionSpec,
    sys_tables: SystemTables | None = None,
    table_name: str = "",
    rewrite: bool = True,
) -> dict:
    job = Job(sys_tables, "evolve", table, table_name)
    # whole-table rewrite: only path strings + byte totals reach the driver
    # (entries_df, not live_entries — full manifest entries never materialize)
    from pyspark.sql import functions as F

    edf = table.entries_df(spark)
    tot = edf.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("size_bytes"), F.lit(0)).alias("b")
    ).first()
    files_before, total_bytes = tot["n"], tot["b"]

    # metadata-only spec change (new writes immediately use the new spec)
    md = meta.load_metadata(table.root)
    md.partition_spec = new_spec.to_list()
    meta.commit_metadata(table.root, md, md.version)
    table.md = md

    result = {
        "status": "spec-updated",
        "rewrite": rewrite,
        "files_before": files_before,
    }
    if not rewrite or not files_before:
        return result

    # rewrite all old-spec files under the new layout (one job + one commit);
    # the removed set is the pre-evolution path list, so a concurrent append
    # written under the NEW spec survives the manifest rewrite correctly
    old_rows = edf.selectExpr(
        "path",
        "size(from_json(coalesce(deletes, '[]'), "
        "'array<struct<path:string,count:bigint>>')) AS n_dvs",
    ).collect()
    old_paths = {r["path"] for r in old_rows}
    # scan() below applies exactly these DV sets; a concurrent delete after
    # this point must conflict at commit, not vanish with the replaced entry
    expected_dvs = {r["path"]: int(r["n_dvs"]) for r in old_rows}
    with job.phase("write"):
        df = table.scan(spark)
        n_files = max(1, -(-total_bytes // table.target_file_size))
        new_entries = table.write_data_files(df, num_files=int(n_files))
    with job.phase("commit"):
        snap = table.commit_replace(
            old_paths,
            new_entries,
            operation="replace",
            summary={"op": "evolve-partition-spec"},
            expected_dv_counts=expected_dvs,
        )
    done = job.finish(
        files_before=files_before,
        files_after=len(new_entries),
        bytes_before=total_bytes,
        bytes_after=sum(e.size_bytes for e in new_entries),
        rows=sum(e.record_count for e in new_entries),
        snapshot_id=snap.snapshot_id,
        input_files=sorted(old_paths),
        output_files=[e.path for e in new_entries],
    )
    result.update({"status": "rewritten", "files_after": len(new_entries), **done})
    return result
