"""The maintenance job ledger (maintenance/checkpoint.py): per-job
checkpoint reads, the one planner-routing rule, and the lineage contract
every committing op honours."""

import json
import os
import time
from types import SimpleNamespace

import pytest

from ocel_ocpn_lakehouse_spark.core import PartitionSpec
from ocel_ocpn_lakehouse_spark.core.table import Table
from ocel_ocpn_lakehouse_spark.images.synth import synth_images_df, synth_merge_source_df
from ocel_ocpn_lakehouse_spark.maintenance import checkpoint
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import Job, SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.cluster_incremental import (
    execute_cluster_incremental,
)
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.evolve import evolve_partition_spec
from ocel_ocpn_lakehouse_spark.maintenance.expire import expire_snapshots
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into
from ocel_ocpn_lakehouse_spark.maintenance.transform import transform_where

from test_maintenance import fragmented_table

NAME = "ocel.images"


def test_group_states_opens_only_its_own_job_fragments(tmp_path, monkeypatch):
    st = SystemTables(str(tmp_path))
    table = SimpleNamespace(md=SimpleNamespace(table_uuid="0123456789abcdef"))
    job = Job(st, "compact", table, NAME, snapshot_id=7)
    job.mark("planned", [{"file_group_id": g, "input_files": [g]} for g in ("g1", "g2")])
    job.mark("written", [{"file_group_id": "g1", "output_files": ["o1"]}])

    # 10^4 fragments of other jobs, hard-linked from one real fragment
    other = Job(st, "compact", table, NAME, snapshot_id=8)
    other.mark("planned", [{"file_group_id": "x"}])
    (src,) = [f for f in os.listdir(st.checkpoint_dir)
              if f.startswith(checkpoint._job_key(other.job_id))]
    for i in range(10_000):
        key = checkpoint._job_key(f"foreign-{i}")
        os.link(os.path.join(st.checkpoint_dir, src),
                os.path.join(st.checkpoint_dir, f"{key}-{i}-{i:08x}.parquet"))

    opened = []
    read_table = checkpoint.pq.read_table
    monkeypatch.setattr(checkpoint.pq, "read_table",
                        lambda p, *a, **k: opened.append(p) or read_table(p, *a, **k))
    states = st.group_states(job.job_id)
    assert {g: s["state"] for g, s in states.items()} == {"g1": "written", "g2": "planned"}
    assert len(opened) == 2
    assert all(os.path.basename(p).startswith(checkpoint._job_key(job.job_id)) for p in opened)


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_auto_planning_schedules_no_entries_df_job(spark, warehouse, monkeypatch, strategy):
    """planning='auto' routes from memoized manifest footers and sizes the
    upserts from manifest totals: no Spark job reads ``entries_df``."""
    cat, t = fragmented_table(spark, warehouse, n_rows=120, n_files=6)
    src = synth_merge_source_df(spark, n_target_rows=120, seed=3)

    def _boom(self, spark, snapshot_id=None):
        raise AssertionError("merge_into read entries_df")

    monkeypatch.setattr(Table, "entries_df", _boom)
    res = merge_into(spark, t, src, planning="auto", strategy=strategy,
                     sys_tables=SystemTables(cat.warehouse), table_name=NAME)
    assert res["status"] == "committed"


def _compact(spark, t, st):
    return execute_compaction(spark, t, st, NAME)


def _cluster(spark, t, st):
    return execute_cluster(spark, t, st, NAME, curve="zorder")


def _cluster_incr(spark, t, st):
    execute_cluster(spark, t, st, NAME, curve="zorder")
    t = t.refresh()
    e0 = max(t.live_entries(), key=lambda e: e.record_count)
    t.append(spark.read.parquet(os.path.join(t.root, e0.path)).select(*t.schema.fieldNames()),
             num_files=1)
    return execute_cluster_incremental(spark, t.refresh(), st, NAME, curve="zorder")


def _merge(spark, t, st):
    src = synth_merge_source_df(spark, n_target_rows=120, seed=3)
    return merge_into(spark, t, src, sys_tables=st, table_name=NAME)


def _update(spark, t, st):
    return transform_where(spark, t, "fmt = 'png'", {"caption": "concat(caption, '!')"},
                           sys_tables=st, table_name=NAME)


def _delete(spark, t, st):
    return delete_where(spark, t, "fmt = 'png'", sys_tables=st, table_name=NAME)


def _evolve(spark, t, st):
    return evolve_partition_spec(spark, t, PartitionSpec.bucket("image_id", 8), st, NAME)


def _expire(spark, t, st):
    t.append(synth_images_df(spark, n_rows=10, seed=9), num_files=1)
    return expire_snapshots(spark, t.refresh(), st, NAME,
                            older_than_ms=int(time.time() * 1000) + 1, keep_last=1)


OPS = {
    "compact": (_compact, ("plan", "write", "publish", "commit", "task_totals")),
    "cluster": (_cluster, ("bounds", "map", "reduce", "publish", "commit", "map_task_totals")),
    "cluster-incr": (_cluster_incr, ("route", "merge", "commit")),
    "merge": (_merge, ()),
    "update": (_update, ()),
    "delete": (_delete, ()),
    "evolve": (_evolve, ()),
    "expire": (_expire, ()),
}


@pytest.mark.parametrize("op", list(OPS))
def test_every_committing_op_writes_one_lineage_record_with_its_phases(spark, warehouse, op):
    run, phase_keys = OPS[op]
    cat, t = fragmented_table(spark, warehouse, n_rows=120, n_files=8)
    st = SystemTables(cat.warehouse)
    res = run(spark, t, st)
    assert res["status"] in ("committed", "ok", "deleted", "rewritten", "expired"), res

    rows = [r for r in st.lineage_rows() if r["op"] == op]
    assert len(rows) == 1
    (row,) = rows
    assert row["job_id"] == res["job_id"] and row["table_name"] == NAME
    assert row["duration_ms"] == res["duration_ms"]
    assert json.loads(row["phases"]) == res["phases"]
    assert set(phase_keys) <= set(res["phases"])
    states = st.group_states(res["job_id"])
    assert states and all(s["state"] == "committed" for s in states.values())
