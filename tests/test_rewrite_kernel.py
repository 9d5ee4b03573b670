"""Staged-rewrite kernel (maintenance/rewrite.py): the task fan-out rule,
the committed-fragment reader, and the publish postconditions every op
built on the kernel must leave behind — compaction, clustering,
incremental clustering, MERGE and UPDATE."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core.table import STAGING_DIR
from ocel_ocpn_lakehouse_spark.images.synth import (
    IMAGE_SCHEMA,
    synth_images_df,
    synth_merge_source_df,
)
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.cluster_incremental import (
    execute_cluster_incremental,
)
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into
from ocel_ocpn_lakehouse_spark.maintenance.rewrite import (
    pack_tasks,
    read_fragments,
    tasks_rdd,
)
from ocel_ocpn_lakehouse_spark.maintenance.transform import transform_where

from test_maintenance import BUCKETS, TEST_PROPS


def test_read_fragments_ignores_dead_attempt_tmp(tmp_path):
    """Only committed fragment names are ingested: a dead task attempt's
    ``.inprogress`` tmp (here: truncated garbage) is never read."""
    bdir = tmp_path / "b3"
    bdir.mkdir()
    good = pa.table({"k": pa.array([3, 1, 2], pa.int64())})
    pq.write_table(good, bdir / "t0_0.parquet", compression="lz4")
    (bdir / "t1_0.parquet.4242.inprogress").write_bytes(b"PAR1 torn write")
    got = read_fragments(str(tmp_path), [3])
    assert got.num_rows == 3 and got.column("k").to_pylist() == [3, 1, 2]
    assert read_fragments(str(tmp_path), [4]) is None  # no fragments at all


def test_read_fragments_reads_several_buckets_in_bucket_order(tmp_path):
    """Several buckets come back as one table: bucket order as given, then
    fragment-name order within a bucket; empty buckets contribute nothing."""
    for b, frags in ((5, {"t0_0": [50], "t1_0": [51, 52]}), (2, {"t0_0": [20]})):
        (tmp_path / f"b{b}").mkdir()
        for name, ks in frags.items():
            pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}),
                           tmp_path / f"b{b}" / f"{name}.parquet", compression="lz4")
    got = read_fragments(str(tmp_path), [5, 9, 2])
    assert got.column("k").to_pylist() == [50, 51, 52, 20]


def test_tasks_df_runs_one_wave_of_at_most_one_task_per_core(spark):
    """More specs than cores: at most ``defaultParallelism`` tasks, each
    spec processed exactly once."""
    from pyspark import TaskContext

    cores = spark.sparkContext.defaultParallelism
    n = 3 * cores + 1

    def fn(recs):
        tid = TaskContext.get().partitionId()
        for r in recs:
            yield {"i": r["i"], "task": tid}

    weights = [(i * 37) % 11 for i in range(n)]
    rows = tasks_rdd(spark, [{"i": i} for i in range(n)], fn, weights).collect()
    assert sorted(r["i"] for r in rows) == list(range(n))
    assert len({r["task"] for r in rows}) <= cores
    # task t runs exactly the specs the rule packed onto it, in that order
    by_task: dict[int, list[int]] = {}
    for r in rows:
        by_task.setdefault(r["task"], []).append(r["i"])
    assert [by_task[t] for t in sorted(by_task)] == pack_tasks(weights, cores)


def test_list_spec_task_job_is_one_spark_job_of_one_stage(spark):
    """A list-spec task job crosses into Python once: one Spark job, one
    stage, no DataFrame conversion in front of the task."""
    sc = spark.sparkContext
    group = "tasks-rdd-structure"
    sc.setJobGroup(group, "one list-spec task job")
    try:
        got = tasks_rdd(
            spark, [{"i": i} for i in range(9)], lambda recs: [r["i"] for r in recs]
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(got) == list(range(9))
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def _stages_of(spark, group, run):
    """(result of ``run()``, number of Spark stages its jobs ran), counted
    over the jobs tagged with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return res, sum(len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group))


def _multi_file_table(spark, warehouse):
    """A fragmented, tombstoned table whose partitions each rewrite into
    more than one output file."""
    st, t = _table(spark, warehouse, target_bytes=64 * 1024)
    per_part: dict[str, int] = {}
    for e in t.live_entries():
        k = str(sorted(e.partition.items()))
        per_part[k] = per_part.get(k, 0) + e.size_bytes
    assert all(b > t.target_file_size for b in per_part.values())
    return st, t


def test_cluster_runs_three_stages_and_incremental_two(spark, warehouse):
    """Python stages are the fixed cost of an op: the full cluster runs
    bounds, map and reduce (the bounds pool on the driver), the incremental
    cluster route and merge (one delta read)."""
    st, t = _multi_file_table(spark, warehouse)
    res, n = _stages_of(spark, "stages-cluster", lambda: execute_cluster(
        spark, t, st, "ocel.images", planning="driver"))
    assert res["status"] == "committed" and n == 3
    t.refresh()
    assert len({str(e.partition) for e in t.live_entries()}) < len(t.live_entries())

    e0 = max(t.live_entries(), key=lambda e: e.record_count)
    delta = spark.read.parquet(os.path.join(t.root, e0.path)).select(*IMAGE_SCHEMA.fieldNames())
    t.append(delta, num_files=2)
    res, n = _stages_of(spark, "stages-cluster-incr", lambda: execute_cluster_incremental(
        spark, t.refresh(), st, "ocel.images"))
    assert res["status"] == "committed" and res["mode"] == "incremental" and n == 2


def test_compaction_runs_one_stage(spark, warehouse):
    """Compaction rewrites every group in one Python stage."""
    st, t = _multi_file_table(spark, warehouse)
    res, n = _stages_of(spark, "stages-compact", lambda: execute_compaction(
        spark, t, st, "ocel.images"))
    assert res["status"] == "committed" and n == 1


def _table(spark, warehouse, target_bytes=None):
    props = dict(TEST_PROPS)
    props["write.bloom-columns"] = "image_id"
    if target_bytes:
        props["write.target-file-size-bytes"] = str(target_bytes)
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
            sort_order=SortOrder.by("phash"),
            properties=props,
        ),
    )
    t.append(synth_images_df(spark, n_rows=300, seed=42), num_files=16, distribution="fragment")
    # tombstones on the inputs: every rewrite must absorb them on read
    delete_where(spark, t.refresh(), "w = 32")
    return SystemTables(cat.warehouse), t.refresh()


def _compact(spark, t, st):
    assert execute_compaction(spark, t, st, "ocel.images")["status"] == "committed"


def _cluster(spark, t, st):
    assert execute_cluster(spark, t, st, "ocel.images")["status"] == "committed"


def _cluster_incremental(spark, t, st):
    _cluster(spark, t, st)
    t.refresh()
    e0 = max(t.live_entries(), key=lambda e: e.record_count)
    delta = spark.read.parquet(os.path.join(t.root, e0.path)).select(*IMAGE_SCHEMA.fieldNames())
    t.append(delta, num_files=2)
    res = execute_cluster_incremental(spark, t.refresh(), st, "ocel.images")
    assert res["status"] == "committed" and res["mode"] == "incremental"


def _merge(spark, t, st):
    src = synth_merge_source_df(spark, n_target_rows=300, seed=7)
    assert merge_into(spark, t, src, sys_tables=st, strategy="cow")["status"] == "committed"


def _update(spark, t, st):
    res = transform_where(spark, t, "fmt = 'png'", {"caption": "concat(caption, '!')"})
    assert res["status"] == "ok" and res["rewritten_files"] > 0


@pytest.mark.parametrize(
    "op", [_compact, _cluster, _cluster_incremental, _merge, _update],
    ids=["compact", "cluster", "cluster_incremental", "merge", "update"],
)
def test_rewrite_publish_postconditions(spark, warehouse, op):
    st, t = _table(spark, warehouse)
    before = {e.path for e in t.live_entries()}
    op(spark, t, st)
    t.refresh()
    added = [e for e in t.live_entries() if e.path not in before]
    assert added

    staging = os.path.join(t.root, STAGING_DIR)
    assert not os.path.isdir(staging) or not os.listdir(staging)
    data_rel = os.path.relpath(t.data_dir, t.root)
    for e in added:
        pdir = "/".join(f"{k}={v}" for k, v in sorted(e.partition.items()))
        assert os.path.dirname(e.path) == os.path.join(data_rel, pdir)
        path = os.path.join(t.root, e.path)
        assert pq.ParquetFile(path).metadata.num_rows == e.record_count
        assert os.path.getsize(path) == e.size_bytes
        assert "image_id" in e.blooms


def test_merge_destroys_its_key_broadcasts(spark, warehouse):
    """PySpark keeps every driver broadcast in a temp file under the
    context's temp dir until ``destroy()``: the key-set broadcasts of the
    MERGE probe and the CoW rewrite must not pile up across merges."""
    st, t = _table(spark, warehouse)
    tmp = spark.sparkContext._temp_dir
    before = len(os.listdir(tmp))
    for strategy, seed in (("cow", 7), ("mor", 8)):
        src = synth_merge_source_df(spark, n_target_rows=300, seed=seed)
        res = merge_into(spark, t.refresh(), src, sys_tables=st, strategy=strategy)
        assert res["status"] == "committed"
    assert len(os.listdir(tmp)) <= before
