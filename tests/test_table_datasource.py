"""Spark Data Source integration (format("lakehouse")): batch read with
pushed-filter manifest pruning, MoR tombstone application, schema
evolution null-fill, snapshot-incremental streaming reads surviving
compaction, batch append/overwrite writes, and exactly-once streaming
writes."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, TableSpec
from ocel_ocpn_lakehouse_spark.sources import register_lakehouse_source


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


@pytest.fixture()
def registered(spark):
    register_lakehouse_source(spark)
    return spark


def _make_table(spark, tmp_path, name="ns.dsrc", rows=200, files=4, spec=None):
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table(name, SCHEMA, spec)
    df = spark.range(0, rows).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 86400).alias("ts"),
    )
    t.append(df, num_files=files)
    return t


def test_batch_read_roundtrip(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path)
    got = spark.read.format("lakehouse").load(t.root)
    assert got.count() == 200
    assert [f.name for f in got.schema.fields] == ["id", "v", "ts"]
    native = t.scan(spark)
    assert got.exceptAll(native).count() == 0
    assert native.exceptAll(got).count() == 0


def test_batch_read_filter_pushdown_prunes_files(registered, tmp_path):
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("ns.pruned", SCHEMA)
    # 4 appends with disjoint id ranges -> 4 files with disjoint bounds
    for lo in range(0, 400, 100):
        t.append(
            spark.range(lo, lo + 100).select(
                F.col("id"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            ),
            num_files=1,
        )
    df = spark.read.format("lakehouse").load(t.root).filter(F.col("id") < 100)
    assert df.count() == 100
    # the residual filter still runs row-level: equality probe is exact
    one = spark.read.format("lakehouse").load(t.root).filter(F.col("id") == 250)
    rows = one.collect()
    assert len(rows) == 1 and rows[0]["v"] == "v250"
    # file-level pruning: a bounds-disjoint predicate plans fewer splits
    from ocel_ocpn_lakehouse_spark.sources.table_source import _TableBatchReader

    rd = _TableBatchReader(t.root, t.schema, {})
    list(rd.pushFilters([]))
    all_splits = sum(len(p.value) for p in rd.partitions())
    rd2 = _TableBatchReader(t.root, t.schema, {})
    from pyspark.sql.datasource import LessThan

    leftover = list(rd2.pushFilters([LessThan(("id",), 100)]))
    assert len(leftover) == 1  # every filter handed back for row-level eval
    pruned_splits = sum(len(p.value) for p in rd2.partitions())
    assert all_splits == 4 and pruned_splits == 1


def test_batch_read_applies_delete_vectors(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.mor")
    from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

    src = spark.range(0, 50).select(
        F.col("id"), F.lit("x").alias("v"),
        F.timestamp_seconds(F.lit(0)).alias("ts"), F.lit("delete").alias("_op"),
    )
    merge_into(spark, t.refresh(), src, key="id", strategy="mor")
    got = spark.read.format("lakehouse").load(t.root)
    assert got.count() == 150
    assert got.filter(F.col("id") < 50).count() == 0


def test_batch_read_time_travel_and_columns(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.tt", rows=100, files=2)
    snap1 = t.current_snapshot().snapshot_id
    t.append(
        spark.range(100, 150).select(
            F.col("id"), F.lit("late").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    old = (
        spark.read.format("lakehouse")
        .option("snapshot-id", snap1)
        .option("columns", "id,v")
        .load(t.root)
    )
    assert old.count() == 100
    assert old.columns == ["id", "v"]


def test_batch_read_schema_evolution_null_fills(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.evo", rows=50, files=1)
    t.add_column("score", T.DoubleType())
    t.append(
        spark.range(50, 60).select(
            F.col("id"), F.lit("n").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
            F.lit(1.5).alias("score"),
        )
    )
    got = spark.read.format("lakehouse").load(t.root)
    assert got.filter(F.col("score").isNull()).count() == 50
    assert got.filter(F.col("score") == 1.5).count() == 10


def test_stream_read_incremental_and_maintenance_transparent(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.srcstream", rows=100, files=8)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("lakehouse")
            .load(t.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # initial backfill
    assert spark.read.parquet(out).count() == 100

    # compaction between batches: a replace commit must contribute NOTHING
    from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
    from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction

    execute_compaction(
        spark, t.refresh(), SystemTables(str(tmp_path / "wh")), "ns.srcstream"
    )
    t.append(
        spark.range(100, 130).select(
            F.col("id"), F.lit("b").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    drain()  # only the 30-row delta arrives, not the compacted rewrite
    assert spark.read.parquet(out).count() == 130
    drain()  # nothing new -> nothing appended
    assert spark.read.parquet(out).count() == 130


def test_batch_write_append_and_overwrite(registered, tmp_path):
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("ns.wsink", SCHEMA)
    df = spark.range(0, 80).select(
        F.col("id"), F.lit("w").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    )
    df.write.format("lakehouse").mode("append").save(t.root)
    t.refresh()
    assert t.scan(spark).count() == 80
    snap = t.current_snapshot()
    assert snap.operation == "append"
    # executor-computed stats landed in the manifest (bounds usable)
    entries = t.live_entries()
    assert all(e.record_count > 0 and "id" in e.lower_bounds for e in entries)

    df2 = spark.range(0, 10).select(
        F.col("id"), F.lit("o").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    )
    df2.write.format("lakehouse").mode("overwrite").save(t.root)
    t.refresh()
    assert t.current_snapshot().operation == "overwrite"
    assert t.scan(spark).count() == 10
    # time travel still sees the pre-overwrite rows
    assert t.scan(spark, snapshot_id=snap.snapshot_id).count() == 80


def test_batch_write_partitioned_identity(registered, tmp_path):
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    from ocel_ocpn_lakehouse_spark.core.spec import PartitionField

    spec = TableSpec(
        partition_spec=PartitionSpec((PartitionField("v", "identity", "v"),))
    )
    t = cat.create_table("ns.wpart", SCHEMA, spec)
    df = spark.range(0, 40).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    )
    df.coalesce(1).write.format("lakehouse").mode("append").save(t.root)
    t.refresh()
    entries = t.live_entries()
    parts = {e.partition.get("_p_v") for e in entries}
    assert parts == {"even", "odd"}
    # partition pruning works on the written layout
    from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate

    pruned = t.scan(spark, prune=[PrunePredicate("_p_v", "=", "even")])
    assert pruned.count() == 20


def test_stream_write_exactly_once(registered, tmp_path):
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("ns.wstream", SCHEMA)
    src = tmp_path / "drop"
    src.mkdir()
    ckpt = str(tmp_path / "wckpt")
    spark.range(0, 60).select(
        F.col("id"), F.lit("s").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    ).write.parquet(str(src / "b1"))

    def drain():
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(str(src / "*"))
            .writeStream.format("lakehouse")
            .option("path", t.root)
            .option("stream-id", "dsw")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    t.refresh()
    assert t.scan(spark).count() == 60
    snap = t.current_snapshot()
    assert snap.summary.get("stream-id") == "dsw"
    assert "stream-epoch" in snap.summary
    n_snaps = len(t.snapshots())

    drain()  # nothing new -> no commit
    t.refresh()
    assert len(t.snapshots()) == n_snaps

    spark.range(60, 90).select(
        F.col("id"), F.lit("s2").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    ).write.parquet(str(src / "b2"))
    drain()
    t.refresh()
    assert t.scan(spark).count() == 90
    # epoch guard property advanced atomically with the data
    assert int(t.properties["stream.dsw.max-epoch"]) >= 1


def test_batch_write_null_partition_values(registered, tmp_path):
    """A null partition-source value must neither crash the write task
    (year transform on NaT) nor mint a literal 'nan' partition — it takes
    the same __HIVE_DEFAULT_PARTITION__ path as the native writer."""
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    from ocel_ocpn_lakehouse_spark.core.spec import PartitionField

    spec = TableSpec(
        partition_spec=PartitionSpec((PartitionField("ts", "year", "y"),))
    )
    t = cat.create_table("ns.wnull", SCHEMA, spec)
    df = spark.range(0, 20).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.when(F.col("id") < 5, F.lit(None).cast("timestamp"))
        .otherwise(F.timestamp_seconds(F.lit(1700000000)))
        .alias("ts"),
    )
    df.coalesce(1).write.format("lakehouse").mode("append").save(t.root)
    t.refresh()
    assert t.scan(spark).count() == 20
    parts = {e.partition.get("_p_y") for e in t.live_entries()}
    assert None in parts and 2023 in parts and "nan" not in parts
    assert any("__HIVE_DEFAULT_PARTITION__" in e.path for e in t.live_entries())
    assert t.scan(spark).filter(F.col("ts").isNull()).count() == 5


def test_stream_write_distinct_checkpoints_distinct_guards(registered, tmp_path):
    """Two unrelated streaming queries into one table, neither passing a
    stream-id: their exactly-once epoch guards must not collide. A shared
    default id would see query 2's batch 0 as 'already committed' and
    silently unlink its files — the guard id derives from the checkpoint
    location instead."""
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("ns.wsid", SCHEMA)
    src = tmp_path / "siddrop"
    src.mkdir()
    spark.range(0, 10).select(
        F.col("id"), F.lit("s").alias("v"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
    ).write.parquet(str(src / "b1"))

    def drain(ck):
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(str(src / "*"))
            .writeStream.format("lakehouse")
            .option("path", t.root)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ck1")  # query 1 commits its batch 0
    t.refresh()
    assert t.scan(spark).count() == 10
    drain("ck2")  # fresh checkpoint restarts batch ids at 0 — must commit
    t.refresh()
    assert t.scan(spark).count() == 20
    drain("ck1")  # replay of query 1 with nothing new -> no change
    t.refresh()
    assert t.scan(spark).count() == 20


def test_changelog_stream_rejects_data_only_schema(registered, tmp_path):
    """A user-supplied .schema(table_schema) on a changelog stream must be
    rejected loudly — slicing the metadata tail off it would silently
    treat the last three DATA columns as metadata."""
    from ocel_ocpn_lakehouse_spark.sources.table_source import _TableStreamReader

    spark = registered
    t = _make_table(spark, tmp_path, name="ns.cdcschema", rows=10, files=1)
    with pytest.raises(ValueError, match="metadata columns"):
        _TableStreamReader(t.root, SCHEMA, {"streaming.mode": "changelog"})


def test_write_schema_mismatch_rejected(registered, tmp_path):
    spark = registered
    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("ns.wbad", SCHEMA)
    bad = spark.range(3).select(F.col("id"), F.lit("x").alias("wrong"))
    with pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("lakehouse").mode("append").save(t.root)


def test_metadata_tables(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.meta", rows=100, files=4)
    t.create_tag("v1", t.current_snapshot().snapshot_id)

    entries = (
        spark.read.format("lakehouse").option("metadata", "entries").load(t.root)
    )
    assert entries.count() == len(t.live_entries())
    assert entries.agg(F.sum("record_count")).first()[0] == 100

    snaps = (
        spark.read.format("lakehouse").option("metadata", "snapshots").load(t.root)
    )
    rows = snaps.collect()
    assert len(rows) == len(t.snapshots())
    assert sum(1 for r in rows if r["is_current"]) == 1

    refs = spark.read.format("lakehouse").option("metadata", "refs").load(t.root)
    ref_rows = {r["name"]: r["type"] for r in refs.collect()}
    assert ref_rows.get("v1") == "tag"


def test_stream_changelog_mode_matches_batch_changelog(registered, tmp_path):
    """streaming.mode=changelog: the stream's accumulated rows across a
    mixed commit sequence (append → MoR delete → compaction replace →
    append) must equal the batch changelog_scan over the same range, and
    an initial-offset batch must boot with the live rows as inserts."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.cdc", rows=100, files=4)
    boot_snap = t.current_snapshot().snapshot_id

    out = str(tmp_path / "cdcout")
    ckpt = str(tmp_path / "cdcckpt")

    def drain():
        q = (
            spark.readStream.format("lakehouse")
            .option("streaming.mode", "changelog")
            .load(t.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # initial snapshot: 100 inserts
    got0 = spark.read.parquet(out)
    assert got0.count() == 100
    assert {r["_change_type"] for r in got0.select("_change_type").distinct().collect()} == {"insert"}

    # MoR delete + maintenance replace + append, then tail the stream
    from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
    from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
    from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where

    delete_where(spark, t.refresh(), "id < 10")
    execute_compaction(spark, t.refresh(), SystemTables(str(tmp_path / "wh")), "ns.cdc")
    t.refresh().append(
        spark.range(200, 230).select(
            F.col("id"), F.lit("tail").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    t.refresh()
    drain()

    streamed = spark.read.parquet(out).filter(F.col("_commit_snapshot_id") > boot_snap)
    batch = t.changelog_scan(spark, boot_snap)
    # same multiset of (id, change_type) — ordinals differ (the stream
    # numbers per micro-batch, the batch scan across the whole range)
    a = streamed.select("id", "_change_type")
    b = batch.select("id", "_change_type")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the replace commit contributed nothing
    assert streamed.count() == 10 + 30  # 10 deletes + 30 tail inserts

    drain()  # idle
    assert spark.read.parquet(out).count() == 100 + 40


def test_stream_read_skip_non_append(registered, tmp_path):
    """An overwrite mid-stream fails the strict incremental read with a
    clear error; streaming.skip-non-append skips it (appends-only feed,
    Iceberg's skip-overwrite-snapshots)."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.skipna", rows=40, files=1)
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")

    def drain(opts=None):
        r = spark.readStream.format("lakehouse")
        for k, v in (opts or {}).items():
            r = r.option(k, v)
        q = (
            r.load(t.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 40
    # overwrite, then append on top
    t.overwrite(
        spark.range(0, 5).select(
            F.col("id"), F.lit("ow").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    t.append(
        spark.range(500, 520).select(
            F.col("id"), F.lit("ap").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="non-append"):
        drain()
    # with the skip option the stream survives: only the append lands
    drain({"streaming.skip-non-append": "true"})
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.filter(F.col("v") == "ap").count() == 20


def test_catalog_register_views_sql(registered, tmp_path):
    """Catalog.register_views: plain spark.sql over every warehouse table.
    Views read the snapshot current at registration (consistent reads,
    immune to concurrent commits); re-registering advances them."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.sqlview", rows=60, files=2)
    cat = Catalog(str(tmp_path / "wh"))
    views = cat.register_views(spark)
    assert views["ns.sqlview"] == "ns_sqlview"
    assert spark.sql("SELECT count(*) n FROM ns_sqlview").first()["n"] == 60
    # snapshot-pinned: a later append is INVISIBLE until re-registration —
    # every query over the view is consistent with its registration point
    t.append(
        spark.range(100, 110).select(
            F.col("id"), F.lit("late").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        )
    )
    assert spark.sql("SELECT count(*) n FROM ns_sqlview").first()["n"] == 60
    cat.register_views(spark)
    assert spark.sql("SELECT count(*) n FROM ns_sqlview").first()["n"] == 70
    got = spark.sql(
        "SELECT v, count(*) n FROM ns_sqlview WHERE id >= 100 GROUP BY v"
    ).collect()
    assert got[0]["v"] == "late" and got[0]["n"] == 10


def _drain_counted(spark, t, out, ckpt, options=None):
    """Run the stream until caught up, return #micro-batch commits."""
    reader = spark.readStream.format("lakehouse")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    q = (
        reader.load(t.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return len(
        [f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")]
    )


def test_stream_read_max_files_per_trigger(registered, tmp_path):
    """Admission control: read.max-files-per-trigger paces the drain —
    the bootstrap and every catch-up run split into ⌈files/cap⌉
    micro-batches (never one table-sized batch), with exactly-once
    results identical to the uncapped stream."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.paced", rows=100, files=8)
    for i in range(5):  # 5 more snapshots x 2 files
        t.refresh().append(
            spark.range(100 + i * 10, 110 + i * 10).select(
                F.col("id"), F.lit(f"b{i}").alias("v"),
                F.timestamp_seconds(F.lit(0)).alias("ts"),
            ),
            num_files=2,
        )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_commits = _drain_counted(
        spark, t, out, ckpt, {"read.max-files-per-trigger": "4"}
    )
    # bootstrap admits the whole first snapshot (progress guarantee: 8 > 4
    # files) then pages the 5 remaining 2-file snapshots two at a time
    assert n_commits >= 4, f"capped drain ran in only {n_commits} micro-batches"
    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.select("id").distinct().count() == 150

    # catch-up after more appends is paced too, and stays exactly-once
    for i in range(4):
        t.refresh().append(
            spark.range(1000 + i * 10, 1010 + i * 10).select(
                F.col("id"), F.lit(f"c{i}").alias("v"),
                F.timestamp_seconds(F.lit(0)).alias("ts"),
            ),
            num_files=2,
        )
    n2 = _drain_counted(spark, t, out, ckpt, {"read.max-files-per-trigger": "4"})
    assert n2 - n_commits >= 2  # 8 new files / cap 4
    got = spark.read.parquet(out)
    assert got.count() == 190 and got.select("id").distinct().count() == 190


def test_stream_read_max_bytes_per_trigger_changelog(registered, tmp_path):
    """The bytes cap paces a changelog-mode stream the same way, and the
    paced CDC drain carries exactly the same rows as an uncapped one."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.pacedcdc", rows=40, files=2)
    for i in range(4):
        t.refresh().append(
            spark.range(100 + i * 10, 110 + i * 10).select(
                F.col("id"), F.lit(f"b{i}").alias("v"),
                F.timestamp_seconds(F.lit(0)).alias("ts"),
            ),
            num_files=2,
        )
    one_file = min(e.size_bytes for e in t.refresh().live_entries())
    out, ckpt = str(tmp_path / "outc"), str(tmp_path / "ckptc")
    n_commits = _drain_counted(
        spark, t, out, ckpt,
        {
            "streaming.mode": "changelog",
            "read.max-bytes-per-trigger": str(one_file),
        },
    )
    assert n_commits >= 4  # each catch-up snapshot admitted alone
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert set(got.select("_change_type").distinct().toPandas()["_change_type"]) == {
        "insert"
    }
    assert got.select("id").distinct().count() == 80


def test_batch_write_merge_keys_upsert_equals_merge_into(registered, tmp_path):
    """.option('merge-keys', 'id').mode('append') routes the vanilla
    writer through a MoR MERGE: matched rows replaced, new rows inserted,
    tombstones + inserts in ONE snapshot, zero data files rewritten — and
    the result equals maintenance.merge.merge_into on the same input."""
    spark = registered
    from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into

    t = _make_table(spark, tmp_path, name="ns.mkw", rows=100, files=6)
    oracle = _make_table(spark, tmp_path, name="ns.mkw_oracle", rows=100, files=6)
    files_before = {e.path for e in t.live_entries()}

    src = spark.range(80, 110).select(
        F.col("id"),
        F.concat(F.lit("NEW"), F.col("id")).alias("v"),
        F.timestamp_seconds(F.lit(1800000000)).alias("ts"),
    )
    src.write.format("lakehouse").option("merge-keys", "id").mode("append").save(t.root)
    merge_into(
        spark, oracle, src.withColumn("_op", F.lit("upsert")), key="id", strategy="mor"
    )

    t, oracle = t.refresh(), oracle.refresh()
    got = sorted(map(tuple, t.scan(spark).collect()))
    want = sorted(map(tuple, oracle.scan(spark).collect()))
    assert got == want
    assert len(got) == 110  # 100 originals - 20 replaced + 30 upserts
    assert sum(1 for r in got if str(r[1]).startswith("NEW")) == 30

    snap = t.current_snapshot()
    assert snap.operation == "merge"
    assert int(snap.summary["tombstoned-rows"]) == 20
    assert int(snap.summary["upserted-rows"]) == 30
    # MoR: the original data files are all still live, just tombstoned
    assert files_before <= {e.path for e in t.live_entries()}

    # second upsert of the SAME keys replaces the first upsert's rows
    # (probe excludes already-dead positions, so counts never double)
    src2 = spark.range(80, 110).select(
        F.col("id"),
        F.concat(F.lit("NEWER"), F.col("id")).alias("v"),
        F.timestamp_seconds(F.lit(1900000000)).alias("ts"),
    )
    src2.write.format("lakehouse").option("merge-keys", "id").mode("append").save(t.root)
    t = t.refresh()
    assert int(t.current_snapshot().summary["tombstoned-rows"]) == 30
    rows = t.scan(spark).collect()
    assert len(rows) == 110
    assert sum(1 for r in rows if str(r["v"]).startswith("NEWER")) == 30
    assert t.scan(spark).select("id").distinct().count() == 110

    # compaction absorbs the writer's tombstones like any other DV
    from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
    from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction

    execute_compaction(spark, t, SystemTables(str(tmp_path / "wh")), "ns.mkw")
    t = t.refresh()
    assert all(not e.deletes for e in t.live_entries())
    assert sorted(map(tuple, t.scan(spark).collect())) == sorted(map(tuple, rows))


def test_batch_write_merge_keys_guards(registered, tmp_path):
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.mkg", rows=10, files=1)
    df = spark.range(0, 5).select(
        F.col("id"), F.lit("x").alias("v"),
        F.timestamp_seconds(F.lit(0)).alias("ts"),
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="mode\\('append'\\)"):
        df.write.format("lakehouse").option("merge-keys", "id").mode(
            "overwrite"
        ).save(t.root)
    with _pytest.raises(Exception, match="not a table column"):
        df.write.format("lakehouse").option("merge-keys", "nope").mode(
            "append"
        ).save(t.root)


def test_stream_read_caps_with_available_now(registered, tmp_path):
    """Trigger.availableNow captures the source's first offset answer as
    its drain target (the Python source API can't be re-consulted), so
    with caps set each invocation processes ONE capped batch — never zero
    rows — and repeated invocations drain the table exactly-once."""
    spark = registered
    t = _make_table(spark, tmp_path, name="ns.pacednow", rows=100, files=8)
    for i in range(5):
        t.refresh().append(
            spark.range(100 + i * 10, 110 + i * 10).select(
                F.col("id"), F.lit(f"b{i}").alias("v"),
                F.timestamp_seconds(F.lit(0)).alias("ts"),
            ),
            num_files=2,
        )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def one():
        q = (
            spark.readStream.format("lakehouse")
            .option("read.max-files-per-trigger", "4")
            .load(t.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    counts = [one()]
    assert counts[0] > 0, "availableNow with caps must never drain zero rows"
    for _ in range(8):
        counts.append(one())
        if counts[-1] == 150:
            break
    assert counts[-1] == 150 and len(counts) >= 3  # paced, multi-invocation
    assert spark.read.parquet(out).select("id").distinct().count() == 150


def _mixed_history_table(spark, tmp_path, name):
    """append (4 files) → MoR DV delete → append (2 files)."""
    from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where

    t = _make_table(spark, tmp_path, name=name, rows=100, files=4)
    delete_where(spark, t.refresh(), "id < 10")
    t.refresh().append(
        spark.range(200, 230).select(
            F.col("id"), F.lit("tail").alias("v"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
        ),
        num_files=2,
    )
    return t.refresh()


def _bootstrap_rows(spark, t, tmp_path, tag, options, cols):
    out, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ckpt_{tag}")
    _drain_counted(spark, t, out, ckpt, options)
    return sorted(tuple(r) for r in spark.read.parquet(out).select(*cols).collect())


def test_capped_bootstrap_skip_non_append_matches_uncapped(registered, tmp_path):
    """With streaming.skip-non-append, a capped offset-0 bootstrap over
    append → DV delete → append history emits the same rows as an
    uncapped one: the head's live rows, never an intermediate snapshot's
    rows that the later delete removed."""
    spark = registered
    t = _mixed_history_table(spark, tmp_path, "ns.capskip")
    opts = {"streaming.skip-non-append": "true"}
    uncapped = _bootstrap_rows(spark, t, tmp_path, "u", opts, ["id"])
    capped = _bootstrap_rows(
        spark, t, tmp_path, "c", {**opts, "read.max-files-per-trigger": "1"}, ["id"]
    )
    assert uncapped == [(i,) for i in [*range(10, 100), *range(200, 230)]]
    assert capped == uncapped


def test_capped_changelog_bootstrap_matches_uncapped(registered, tmp_path):
    """In changelog mode over the same mixed history, a capped offset-0
    bootstrap emits the same change rows as an uncapped one: the head's
    live rows as inserts."""
    spark = registered
    t = _mixed_history_table(spark, tmp_path, "ns.capcdc")
    opts = {"streaming.mode": "changelog"}
    cols = ["id", "_change_type", "_commit_snapshot_id"]
    uncapped = _bootstrap_rows(spark, t, tmp_path, "u", opts, cols)
    capped = _bootstrap_rows(
        spark, t, tmp_path, "c", {**opts, "read.max-files-per-trigger": "1"}, cols
    )
    head = t.current_snapshot().snapshot_id
    assert uncapped == [(i, "insert", head) for i in [*range(10, 100), *range(200, 230)]]
    assert capped == uncapped


def test_every_commit_kind_summarizes_bytes_and_bytes_cap_paces_overwrite(
    registered, tmp_path
):
    """Every commit type records files, bytes and records added and
    removed, so the bytes cap paces non-append snapshots too: an over-cap
    overwrite is admitted in a micro-batch of its own."""
    from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
    from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
    from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
    from ocel_ocpn_lakehouse_spark.sources.table_source import _TableStreamReader

    spark = registered

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.lit("s").alias("v"), F.timestamp_seconds(F.lit(0)).alias("ts")
        )

    t = _make_table(spark, tmp_path, name="ns.summaries", rows=40, files=2)
    t.refresh().append(rows(1000, 1005), num_files=1)
    replaced = t.refresh().live_entries()
    t.refresh().overwrite(rows(0, 400), num_files=4)
    t.refresh().append(rows(2000, 2005), num_files=1)
    delete_where(spark, t.refresh(), "id = 5")
    execute_compaction(spark, t.refresh(), SystemTables(str(tmp_path / "wh")), "ns.summaries")
    t.refresh().create_branch("wap")
    t.branch("wap").append(rows(3000, 3005), num_files=1)
    staged = t.branch("wap").refresh().current_snapshot().snapshot_id
    t.refresh().append(rows(4000, 4005), num_files=1)
    t.refresh().cherry_pick(staged)

    snaps = t.refresh().md.snapshots
    assert {s.operation for s in snaps} >= {"append", "overwrite", "delete", "replace"}
    assert "cherry-picked-from" in snaps[-1].summary
    keys = {f"{side}-{what}" for side in ("added", "removed")
            for what in ("files", "bytes", "records")}
    for s in snaps:
        assert keys <= set(s.summary), (s.operation, s.summary)
    ow = next(s for s in snaps if s.operation == "overwrite")
    assert ow.summary["removed-files"] == len(replaced)
    assert ow.summary["removed-bytes"] == sum(e.size_bytes for e in replaced)
    assert ow.summary["removed-records"] == 45
    assert ow.summary["added-records"] == 400
    dv = next(s for s in snaps if s.operation == "delete")
    assert dv.summary["removed-records"] == dv.summary["deleted-rows"] == 1
    assert snaps[-1].summary["added-records"] == 5

    # bytes cap just below the overwrite's size: the small append before it
    # fills one batch, the overwrite gets its own, and the drain moves on
    first = snaps[0].snapshot_id
    reader = _TableStreamReader(
        t.root, SCHEMA, {"read.max-bytes-per-trigger": str(ow.summary["added-bytes"] - 1)}
    )
    batches, start = [], first
    while start < ow.snapshot_id + 1:
        end = reader._admit(t, start, t.current_snapshot().snapshot_id)
        batches.append((start, end))
        start = end
    assert (ow.snapshot_id - 1, ow.snapshot_id) in batches


def test_duplicate_source_keys_raise(registered, tmp_path, monkeypatch):
    """A MERGE source that repeats a key raises instead of leaving
    duplicate rows: merge_into (cow and mor, broadcast and huge-source
    routes) checks the whole source; the merge-keys writer fails a task
    that holds a key twice, a commit where two tasks matched one target
    row, and a commit where two tasks hold one key that matches no target
    row. Nothing commits and no written file is left behind."""
    import datetime

    from ocel_ocpn_lakehouse_spark.maintenance import merge

    spark = registered
    t = _make_table(spark, tmp_path, name="ns.dupk", rows=20, files=2)
    snap = t.current_snapshot().snapshot_id
    files = {e.path for e in t.live_entries()}
    ts = datetime.datetime(2024, 1, 1)
    rows = [(5, "a", ts), (5, "b", ts), (40, "c", ts)]
    src = spark.createDataFrame(rows, SCHEMA)

    for strategy in ("cow", "mor"):
        with pytest.raises(ValueError, match="duplicate id values \\[5\\]"):
            merge.merge_into(
                spark, t, src.withColumn("_op", F.lit("upsert")), key="id", strategy=strategy
            )
    monkeypatch.setattr(merge, "BROADCAST_THRESHOLD_ROWS", 0)  # huge-source route
    with pytest.raises(ValueError, match="duplicate id values \\[5\\]"):
        merge.merge_into(spark, t, src.withColumn("_op", F.lit("upsert")), key="id")

    writer = src.coalesce(1).write.format("lakehouse").option("merge-keys", "id")
    with pytest.raises(Exception, match="duplicate id values in one write task"):
        writer.mode("append").save(t.root)
    # key 5 once in each of two tasks: both tasks tombstone the same row
    two = spark.createDataFrame(spark.sparkContext.parallelize(rows[:2], 2), SCHEMA)
    writer = two.write.format("lakehouse").option("merge-keys", "id")
    with pytest.raises(Exception, match="several source rows matched one target row"):
        writer.mode("append").save(t.root)
    # key 40 once in each of two tasks, matching no target row: the tasks'
    # key hashes collide at commit
    new = spark.createDataFrame(spark.sparkContext.parallelize(rows[2:] * 2, 2), SCHEMA)
    writer = new.write.format("lakehouse").option("merge-keys", "id")
    with pytest.raises(Exception, match="duplicate id values \\[40\\] across write tasks"):
        writer.mode("append").save(t.root)

    t = t.refresh()
    assert t.current_snapshot().snapshot_id == snap
    assert sorted(r["id"] for r in t.scan(spark).collect()) == list(range(20))
    on_disk = {
        os.path.relpath(os.path.join(d, f), t.root)
        for d, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == files  # data files and DV fragments alike


def test_cross_task_key_check_confirms_hash_collisions(spark, tmp_path):
    """The merge-keys commit finds cross-task duplicates by the tasks' key
    hashes, then confirms them from the written files: two distinct keys
    whose hashes collide do not fail the upsert, one key in two tasks does."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocel_ocpn_lakehouse_spark.sources.table_source import _FilesWritten, _TableArrowWriter

    t = _make_table(spark, tmp_path, name="ns.hashk", rows=4, files=1)
    w = _TableArrowWriter(t.root, t, False, merge_key="id")

    def task(name, ids, hashes):
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(t.root, name))
        return _FilesWritten(({"path": name},), (), np.array(hashes, dtype=np.uint64))

    a, b, c = task("a.parquet", [1, 2], [7, 9]), task("b.parquet", [3], [9]), task("c.parquet", [2], [5])
    assert w._cross_task_duplicates([a, c]) == []  # no hash shared
    assert w._cross_task_duplicates([a, b]) == []  # 2 and 3 collide on hash 9
    assert w._cross_task_duplicates([a, b, task("d.parquet", [2], [9])]) == [2]
