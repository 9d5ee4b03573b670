"""Driver-built relations enter Spark as Arrow: ``local_df`` plans no
``PythonRDD``, and the engine's mutate-path ops (MoR MERGE, DV rewrite,
training export, snapshot expiry) never hand ``createDataFrame`` a Python
list. Expiry's driver refcount deletes what the Spark anti-join deletes,
with no Spark job; DV consolidation reads its per-file counts back from
the files it wrote instead of re-executing its plan; MERGE's one-job
source summary still rejects NULL and unknown ops."""

import contextlib
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, TableSpec
from ocel_ocpn_lakehouse_spark.core.local import local_df
from ocel_ocpn_lakehouse_spark.images.export import export_webdataset_job
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.expire import expire_snapshots
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into
from ocel_ocpn_lakehouse_spark.maintenance.rewrite_deletes import rewrite_deletes

MIXED = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
    ]
)


@contextlib.contextmanager
def _no_list_create_dataframe(monkeypatch):
    """``SparkSession.createDataFrame`` raises on list/tuple input."""
    orig = SparkSession.createDataFrame

    def guarded(self, data, *a, **k):
        if isinstance(data, (list, tuple)):
            raise AssertionError("createDataFrame(<python list>) on an engine op path")
        return orig(self, data, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", guarded)
        yield


def _jobs_of(spark, group, run):
    """(result of ``run()``, Spark job ids tagged with ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, list(sc.statusTracker().getJobIdsForGroup(group))


def _dv_debt_table(spark, root, name="ns.dvdebt", n_deletes=3):
    """300 rows over 6 files; ``n_deletes`` MoR delete commits each touch
    every file, so every live entry references ``n_deletes`` DV files."""
    cat = Catalog(root)
    t = cat.create_table(
        name,
        T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]),
    )
    for lo in range(0, 300, 50):
        t.append(
            spark.range(lo, lo + 50).select("id", F.concat(F.lit("v"), F.col("id")).alias("v")),
            num_files=1,
        )
    for k in range(n_deletes):
        delete_where(spark, t.refresh(), f"id % 50 = {k}")
    return cat, t.refresh()


def _positions(table) -> dict[str, list[int]]:
    """Per data file, the sorted tombstone positions its live DVs list."""
    out: dict[str, list[int]] = {}
    for e in table.live_entries():
        pos: list[int] = []
        for d in e.deletes:
            tbl = pq.read_table(os.path.join(table.root, d["path"]))
            pos += [p for path, p in zip(tbl["path"].to_pylist(), tbl["pos"].to_pylist())
                    if path == e.path]
        out[e.path] = sorted(pos)
    return out


@pytest.mark.parametrize(
    "rows",
    [[], [("a", 1, 2**40), (None, None, None), ("", -7, 0)]],
    ids=["empty", "rows"],
)
def test_local_df_plans_no_python_rdd(spark, rows):
    for schema in (MIXED, "s string, i int, l long"):
        df = local_df(spark, rows, schema)
        dbg = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in dbg, dbg
        assert df.schema == MIXED
        assert df.collect() == spark.createDataFrame(rows, MIXED).collect()


def test_mutate_path_ops_build_no_list_relations(spark, tmp_path, monkeypatch):
    # MoR MERGE on a bucketed table carrying an earlier tombstone
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "ocel.images", IMAGE_SCHEMA, TableSpec(partition_spec=PartitionSpec.bucket("image_id", 2))
    )
    t.append(synth_images_df(spark, n_rows=120, seed=3), num_files=4, distribution="fragment")
    delete_where(spark, t, "w = 16")
    t.refresh()
    keys = sorted(r["image_id"] for r in t.scan(spark).select("image_id").collect())
    src = (
        t.scan(spark).filter(F.col("image_id").isin(keys[:6]))
        .withColumn("caption", F.lit("v2")).withColumn("_op", F.lit("upsert"))
        .unionByName(
            t.scan(spark).filter(F.col("image_id").isin(keys[6:9]))
            .withColumn("_op", F.lit("delete"))
        )
    )
    with _no_list_create_dataframe(monkeypatch):
        r = merge_into(spark, t, src, sys_tables=SystemTables(cat.warehouse),
                       table_name="ocel.images", strategy="mor")
    assert r["status"] == "committed" and r["tombstoned_rows"] == 9
    assert t.refresh().scan(spark).count() == len(keys) - 3

    # full export, then an incremental one after an append of later keys
    out = str(tmp_path / "export")
    with _no_list_create_dataframe(monkeypatch):
        full = export_webdataset_job(spark, cat, "ocel.images", out, batch_size=8)
    assert full["items"] == len(keys) - 3
    t.refresh().append(
        synth_images_df(spark, 20, seed=4).withColumn(
            "image_id", F.concat(F.lit("z_"), F.col("image_id"))),
        num_files=1,
    )
    with _no_list_create_dataframe(monkeypatch):
        inc = export_webdataset_job(spark, cat, "ocel.images", out, batch_size=8)
    assert inc["mode"] == "incremental" and inc["items"] >= 20

    # DV rewrite and snapshot expiry
    _, d = _dv_debt_table(spark, str(tmp_path / "wh2"))
    with _no_list_create_dataframe(monkeypatch):
        assert rewrite_deletes(spark, d)["status"] == "ok"
        res = expire_snapshots(spark, d.refresh(), keep_last=1,
                               older_than_ms=int(time.time() * 1000) + 60_000)
    assert res["status"] == "expired" and res["deleted_files"] > 0


def _tree(root: str) -> set[str]:
    """Data files and manifests on disk, relative to the table root."""
    out = set()
    for sub in ("data", "metadata"):
        for dirpath, _d, files in os.walk(os.path.join(root, sub)):
            out.update(
                os.path.relpath(os.path.join(dirpath, f), root)
                for f in files
                if f.endswith(".parquet")
            )
    return out


def test_expire_driver_route_matches_spark_route_with_zero_jobs(spark, tmp_path, monkeypatch):
    _, t = _dv_debt_table(spark, str(tmp_path / "a"))
    rewrite_deletes(spark, t)  # retires the three original DV files
    t.refresh().append(spark.range(300, 320).select("id", F.lit("x").alias("v")), num_files=1)
    shutil.copytree(str(tmp_path / "a"), str(tmp_path / "b"))
    spark_t = t.refresh()
    driver_t = Catalog(str(tmp_path / "b")).load_table("ns.dvdebt")
    cutoff = int(time.time() * 1000) + 60_000

    monkeypatch.setitem(spark_t.md.properties, "scan.plan-distributed-threshold", "0")
    assert spark_t.plans_distributed()
    via_spark, spark_jobs = _jobs_of(
        spark, "expire-spark-route",
        lambda: expire_snapshots(spark, spark_t, keep_last=2, older_than_ms=cutoff))
    assert not driver_t.plans_distributed()
    via_driver, driver_jobs = _jobs_of(
        spark, "expire-driver-route",
        lambda: expire_snapshots(spark, driver_t, keep_last=2, older_than_ms=cutoff))

    assert spark_jobs and driver_jobs == []
    assert via_driver["deleted_files"] == via_spark["deleted_files"] > 0
    assert via_driver["deleted_manifests"] == via_spark["deleted_manifests"]
    assert via_driver["expired_snapshot_ids"] == via_spark["expired_snapshot_ids"]
    assert _tree(spark_t.root) == _tree(driver_t.root)
    assert sorted(r["id"] for r in spark_t.refresh().scan(spark).collect()) == sorted(
        r["id"] for r in driver_t.refresh().scan(spark).collect())


def test_rewrite_deletes_keeps_positions_and_never_re_executes(spark, tmp_path, monkeypatch):
    _, t = _dv_debt_table(spark, str(tmp_path / "wh"))
    before = _positions(t)
    assert all(len(p) == 3 for p in before.values())

    def no_collect(self, *a, **k):
        raise AssertionError("rewrite_deletes re-executed its plan to collect counts")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", no_collect)
        res, jobs = _jobs_of(spark, "rewrite-deletes", lambda: rewrite_deletes(spark, t))
    assert res["status"] == "ok" and res["positions"] == 18
    # the read → join → dedup → write plan runs once: AQE splits it into
    # its shuffle-map and write jobs plus the DV schema read, nothing more
    assert 0 < len(jobs) <= 5
    t.refresh()
    assert _positions(t) == before
    assert {e.path: e.deletes[0]["count"] for e in t.live_entries()} == {
        p: len(v) for p, v in before.items()}


def test_merge_source_summary_rejects_null_and_unknown_ops(spark, tmp_path):
    """MERGE reads its source in one summary job; a NULL ``_op`` next to
    valid ones still fails before anything is written."""
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "ocel.images", IMAGE_SCHEMA, TableSpec(partition_spec=PartitionSpec.bucket("image_id", 2))
    )
    t.append(synth_images_df(spark, n_rows=40, seed=5), num_files=2)
    before = t.current_snapshot().snapshot_id
    src = synth_images_df(spark, n_rows=6, seed=5).withColumn(
        "_op",
        F.when(F.col("image_id").endswith("1"), F.lit(None).cast("string"))
        .when(F.col("image_id").endswith("2"), F.lit("insert"))
        .otherwise(F.lit("upsert")),
    )
    with pytest.raises(ValueError, match=r"unknown _op value\(s\) \[None, 'insert'\]"):
        merge_into(spark, t, src, strategy="mor")
    assert t.refresh().current_snapshot().snapshot_id == before
