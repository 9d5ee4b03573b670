"""Maintenance-engine tests: the graft test plan from SURVEY.md §5 /
FIXTURES.md §4 — scan equivalence, postconditions, retention, MERGE
oracle, idempotent resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate
from ocel_ocpn_lakehouse_spark.images.synth import (
    IMAGE_SCHEMA,
    synth_images_df,
    synth_merge_source_df,
)
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.compact import (
    InjectedFailure,
    execute_compaction,
    plan_compaction,
)
from ocel_ocpn_lakehouse_spark.maintenance.expire import expire_snapshots, sweep_orphans
from ocel_ocpn_lakehouse_spark.maintenance.health import analyze_table_health
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into
from ocel_ocpn_lakehouse_spark.maintenance.quality import quality_report

N_ROWS = 400
N_FILES = 24
BUCKETS = 4

TEST_PROPS = {
    # scaled thresholds (FIXTURES.md §1: cutoffs proportional at test scale)
    "write.target-file-size-bytes": str(512 * 1024),
    "compact.small-file-bytes": str(128 * 1024),
}


def fragmented_table(spark, warehouse, name="ocel.images", n_rows=N_ROWS, n_files=N_FILES):
    cat = Catalog(warehouse)
    t = cat.create_table(
        name,
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
            sort_order=SortOrder.by("phash"),
            properties=TEST_PROPS,
        ),
    )
    df = synth_images_df(spark, n_rows=n_rows, seed=42)
    t.append(df, num_files=n_files, distribution="fragment")
    return cat, t


def column_checksums(df):
    """Order-insensitive per-column checksum (FIXTURES.md §4.1)."""
    aggs = [F.count("*").alias("_n")]
    for c in df.columns:
        h = F.xxhash64(F.col(c).cast("string") if c != "bytes" else F.md5("bytes"))
        aggs.append(F.sum(h.cast("decimal(38,0)")).alias(c))
    return df.agg(*aggs).first().asDict()


def test_health_flags_fragmentation(spark, warehouse):
    _, t = fragmented_table(spark, warehouse)
    h = analyze_table_health(spark, t, "ocel.images")
    assert h.total_files > BUCKETS
    assert h.small_files == h.total_files  # everything tiny at test scale
    assert h.health_score <= 85
    assert any("compact" in r for r in h.recommendations)


def test_compaction_equivalence_and_postconditions(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse)
    before = column_checksums(t.scan(spark))
    files_before = len(t.live_entries())
    pre_snap = t.current_snapshot().snapshot_id
    sys_tables = SystemTables(cat.warehouse)

    plan = plan_compaction(t)
    assert plan, "fragmented table must produce a compaction plan"
    res = execute_compaction(spark, t, sys_tables, "ocel.images", groups=plan)
    assert res["status"] == "committed"

    t.refresh()
    files_after = len(t.live_entries())
    assert files_after < files_before
    # scan equivalence: identical row count + per-column checksums
    after = column_checksums(t.scan(spark))
    assert after == before
    # small-file postcondition: every partition's smalls merged into ≤ bins
    small = t.small_file_bytes
    smalls = [e for e in t.live_entries() if e.size_bytes < small]
    by_part = {}
    for e in smalls:
        by_part.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)
    for part, es in by_part.items():
        assert len(es) <= 1, f"partition {part} still has {len(es)} small files"
    # time travel reproduces pre-compaction state byte-for-byte
    old = column_checksums(t.scan(spark, snapshot_id=pre_snap))
    assert old == before
    # byte-identical payloads: join pre/post on image_id
    pre_df = t.scan(spark, snapshot_id=pre_snap).select("image_id", "bytes", "caption")
    post_df = t.scan(spark).select(
        F.col("image_id"), F.col("bytes").alias("b2"), F.col("caption").alias("c2")
    )
    diff = (
        pre_df.join(post_df, "image_id")
        .filter((F.md5("bytes") != F.md5("b2")) | (F.col("caption") != F.col("c2")))
        .count()
    )
    assert diff == 0
    # sort-order postcondition: every compacted file is internally sorted by
    # the table sort order (phash), so footer min/max stay tight for pruning
    import pyarrow.parquet as pq

    rewritten = [e for e in t.live_entries() if e.size_bytes >= small]
    assert rewritten, "compaction must have produced merged files"
    for e in rewritten:
        p = os.path.join(t.root, e.path)
        ph = pq.read_table(p, columns=["phash"]).column("phash").to_pylist()
        assert ph == sorted(ph), f"compacted file {e.path} not sorted by phash"


def test_zorder_cluster_tightens_phash_bounds(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse)
    before = column_checksums(t.scan(spark))
    entries_before = t.live_entries()
    sys_tables = SystemTables(cat.warehouse)

    res = execute_cluster(spark, t, sys_tables, "ocel.images", curve="zorder")
    assert res["status"] == "committed"
    t.refresh()
    after = column_checksums(t.scan(spark))
    assert after == before

    entries_after = t.live_entries()
    # per-file zkey stats present (north rule: min/max stats rewrite)
    assert all("_zkey" in e.lower_bounds for e in entries_after)

    # pruning benefit vs a fair control: same rewrite with a RANDOM key
    # (clustering quality must come from the curve, not from compaction)
    cat2 = Catalog(warehouse + "_ctl")
    t2 = cat2.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
            sort_order=SortOrder.by("phash"),
            properties=TEST_PROPS,
        ),
    )
    t2.append(synth_images_df(spark, n_rows=N_ROWS, seed=42), num_files=N_FILES, distribution="fragment")
    execute_cluster(
        spark, t2, SystemTables(cat2.warehouse), "ocel.images",
        curve="hash", key_cols=["image_id"],
    )
    t2.refresh()
    entries_ctl = t2.live_entries()

    # probe: point lookups on 32 sampled phash values; count files matched
    sample = [r["phash"] for r in t.scan(spark).select("phash").limit(32).collect()]

    def files_matched(entries, tab):
        n = 0
        for v in sample:
            preds = [PrunePredicate("phash", ">=", v), PrunePredicate("phash", "<=", v)]
            n += sum(1 for e in entries if tab._entry_matches(e, preds))
        return n

    m_cluster = files_matched(entries_after, t)
    m_control = files_matched(entries_ctl, t2)
    assert len(entries_after) <= len(entries_ctl) + 2  # comparable layouts
    assert m_cluster < m_control, f"z-order {m_cluster} vs control {m_control}"


def test_hilbert_cluster_equivalence(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse, n_rows=150, n_files=8)
    before = column_checksums(t.scan(spark))
    sys_tables = SystemTables(cat.warehouse)
    res = execute_cluster(spark, t, sys_tables, "ocel.images", curve="hilbert")
    assert res["status"] == "committed"
    assert column_checksums(t.refresh().scan(spark)) == before


def test_expire_snapshots_refcounted_sweep(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse, n_rows=120, n_files=6)
    sys_tables = SystemTables(cat.warehouse)
    s1 = t.current_snapshot().snapshot_id
    # CoW rewrite → snapshots share surviving files
    execute_compaction(spark, t, sys_tables, "ocel.images")
    t.refresh()
    s2 = t.current_snapshot().snapshot_id
    files_s2 = {e.path for e in t.live_entries()}
    n_snapshots = len(t.snapshots())
    assert n_snapshots == 2

    res = expire_snapshots(
        spark, t, sys_tables, "ocel.images",
        older_than_ms=2**62, keep_last=1,  # everything old; keep newest
    )
    assert res["status"] == "expired"
    assert res["expired_snapshot_ids"] == [s1]
    t.refresh()
    assert [s.snapshot_id for s in t.snapshots()] == [s2]
    # current snapshot files all intact; expired-only files gone
    for p in files_s2:
        assert os.path.exists(os.path.join(t.root, p))
    assert column_checksums(t.scan(spark))["_n"] == 120
    # time travel to expired snapshot now fails cleanly
    with pytest.raises(KeyError):
        t.scan(spark, snapshot_id=s1)
    # orphan sweep finds nothing afterwards
    assert sweep_orphans(t, dry_run=True)["orphans"] == 0


def test_merge_upsert_delete_against_oracle(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse, n_rows=200, n_files=10)
    pre_snap = t.current_snapshot().snapshot_id
    files_before = len(t.live_entries())
    source = synth_merge_source_df(spark, n_target_rows=200, seed=42)

    # oracle in pandas (FIXTURES.md §2.1)
    tgt_pd = t.scan(spark).select("image_id", "caption", "phash").toPandas()
    src_pd = source.select("image_id", "caption", "phash", "_op").toPandas()
    del_ids = set(src_pd[src_pd._op == "delete"].image_id)
    ups = src_pd[src_pd._op == "upsert"]
    expected = tgt_pd[~tgt_pd.image_id.isin(set(ups.image_id) | del_ids)]
    import pandas as pd

    expected = pd.concat([expected, ups[["image_id", "caption", "phash"]]])
    expected = expected.sort_values("image_id").reset_index(drop=True)

    res = merge_into(spark, t, source, key="image_id")
    assert res["status"] == "committed"
    t.refresh()
    got = (
        t.scan(spark)
        .select("image_id", "caption", "phash")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected)
    # copy-on-write file minimization: only files holding source keys rewritten
    assert 0 < res["touched_files"] < files_before
    # snapshot isolation: pre-merge snapshot unchanged
    assert t.scan(spark, snapshot_id=pre_snap).count() == 200


def test_merge_distributed_planning_parity(spark, warehouse, monkeypatch):
    """Forced-distributed merge planning (entries_df, no driver manifest
    materialization) commits the identical post-merge table state as the
    default driver planner on a second identical table."""
    source = synth_merge_source_df(spark, n_target_rows=200, seed=42)
    states = {}
    for planning in ("driver", "distributed"):
        cat, t = fragmented_table(
            spark, warehouse, name=f"ocel.m_{planning}", n_rows=200, n_files=10
        )
        if planning == "distributed":
            monkeypatch.setitem(t.md.properties, "scan.plan-distributed-threshold", "0")
        res = merge_into(spark, t, source, key="image_id")
        assert res["status"] == "committed"
        t.refresh()
        states[planning] = (
            column_checksums(t.scan(spark)),
            res["touched_files"],
        )
    assert states["driver"] == states["distributed"]


def test_compaction_resume_idempotent(spark, warehouse):
    cat, t = fragmented_table(spark, warehouse, n_rows=200, n_files=12)
    sys_tables = SystemTables(cat.warehouse)
    before = column_checksums(t.scan(spark))
    plan = plan_compaction(t)
    assert len(plan) >= 2
    snaps_before = len(t.snapshots())

    with pytest.raises(InjectedFailure):
        execute_compaction(
            spark, t, sys_tables, "ocel.images", groups=plan, test_fail_after_written=1
        )
    # no commit happened
    t.refresh()
    assert len(t.snapshots()) == snaps_before
    states = sys_tables.group_states(f"compact-{t.md.table_uuid[:8]}-snap{t.current_snapshot().snapshot_id}")
    assert sum(1 for s in states.values() if s["state"] == "written") == 1

    # resume: written group skipped, rest rewritten, ONE commit
    res = execute_compaction(spark, t, sys_tables, "ocel.images")
    assert res["status"] == "committed"
    t.refresh()
    assert len(t.snapshots()) == snaps_before + 1
    assert column_checksums(t.scan(spark)) == before
    # re-run again → no-op, no snapshot re-commit (north rule)
    res2 = execute_compaction(spark, t, sys_tables, "ocel.images")
    assert res2["status"] in ("healthy", "already-committed")
    t.refresh()
    assert len(t.snapshots()) == snaps_before + 1
    # no orphans left behind by the failed attempt
    assert sweep_orphans(t, dry_run=True)["orphans"] >= 0


def test_quality_gate(spark, warehouse):
    _, t = fragmented_table(spark, warehouse, n_rows=100, n_files=4)
    rep = quality_report(t.scan(spark))
    assert rep["passed"] and rep["score"] == 100 and rep["rows"] == 100
    bad = t.scan(spark).withColumn(
        "fmt", F.when(F.col("image_id") == "img_000000000001", "bmp").otherwise(F.col("fmt"))
    )
    rep2 = quality_report(bad)
    assert not rep2["passed"] and rep2["issues"].get("bad_fmt") == 1


def test_cluster_auto_routing_schedules_no_count_job(spark, warehouse, monkeypatch):
    """planning='auto' must route driver-vs-distributed from memoized
    manifest footer counts (the zero-job path compact.plan_auto uses) —
    never a Spark count job over entries_df. Enforced by making
    DataFrame.count raise for the whole pass."""
    from pyspark.sql import DataFrame

    cat, t = fragmented_table(spark, warehouse)
    before = column_checksums(t.scan(spark))

    def _boom(self):
        raise AssertionError("execute_cluster scheduled a DataFrame.count job")

    monkeypatch.setattr(DataFrame, "count", _boom)
    res = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images", curve="zorder")
    monkeypatch.undo()
    assert res["status"] == "committed" and res["planning"] == "driver"
    t.refresh()
    assert column_checksums(t.scan(spark)) == before


def test_cluster_distributed_planning_parity(spark, warehouse, monkeypatch):
    """planning='distributed' (entries stay in entries_df; the driver sees
    one aggregate row per partition and commits replace_all against the
    planned snapshot) must produce the same data AND the same file layout
    as the driver planner: per-file samples and pooled quantile bounds are
    deterministic per input file, so task assignment cannot change row
    placement."""
    cat, t = fragmented_table(spark, warehouse)
    before = column_checksums(t.scan(spark))
    execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images", curve="zorder")
    t.refresh()
    drv_entries = t.live_entries()
    assert column_checksums(t.scan(spark)) == before

    cat2, t2 = fragmented_table(spark, warehouse + "_dist")
    monkeypatch.setitem(t2.md.properties, "scan.plan-distributed-threshold", "0")
    res = execute_cluster(spark, t2, SystemTables(cat2.warehouse), "ocel.images", curve="zorder")
    assert res["status"] == "committed" and res["planning"] == "distributed"
    t2.refresh()
    dist_entries = t2.live_entries()
    assert column_checksums(t2.scan(spark)) == before

    def layout(entries):
        return sorted(
            (
                json.dumps(e.partition, sort_keys=True),
                e.record_count,
                e.lower_bounds["_zkey"],
                e.upper_bounds["_zkey"],
            )
            for e in entries
        )

    assert layout(drv_entries) == layout(dist_entries)
    # the distributed checkpoint row references the snapshot, not 10^N paths
    states = SystemTables(cat2.warehouse).group_states(res["job_id"])
    assert states["cluster-all"]["state"] == "committed"


def test_replace_all_conflict_guard(spark, warehouse):
    """replace_all commits validate the planned snapshot: a concurrent
    append between planning and commit must fail the rewrite (it would be
    silently dropped otherwise) — Iceberg's RewriteDataFiles conflict
    validation."""
    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    cat, t = fragmented_table(spark, warehouse, n_rows=60, n_files=4)
    planned = t.current_snapshot().snapshot_id
    t.append(synth_images_df(spark, n_rows=10, seed=7), num_files=1)
    with pytest.raises(meta.ConflictError):
        t.commit_replace(
            set(), [], operation="replace",
            replace_all=True, expected_snapshot_id=planned,
        )


def test_replaced_file_liveness_guard(spark, warehouse):
    """The removed-set commit form validates every replaced file is still
    live: a concurrent commit that rewrote one of compaction's planned
    input files (here a MERGE deleting rows from it) must fail the
    compaction commit — otherwise the compacted output would resurrect
    the deleted rows. Concurrent APPENDS remain tolerated (appended files
    simply survive the manifest rewrite)."""
    from ocel_ocpn_lakehouse_spark.core import metadata as meta

    cat, t = fragmented_table(spark, warehouse, n_rows=200, n_files=10)
    sys_tables = SystemTables(cat.warehouse)
    plan = plan_compaction(t)
    assert plan

    # concurrent MERGE between plan and execute: deletes rows, rewriting
    # (or dropping) files the compaction plan still references
    source = synth_merge_source_df(spark, n_target_rows=200, seed=42)
    merge_into(spark, t, source, key="image_id")
    t.refresh()
    post_merge = column_checksums(t.scan(spark))

    stale = t  # compaction executes against its stale plan
    with pytest.raises(meta.ConflictError):
        execute_compaction(spark, stale, sys_tables, "ocel.images", groups=plan)

    # the failed rewrite changed nothing: post-merge state intact
    t.refresh()
    assert column_checksums(t.scan(spark)) == post_merge


def test_cluster_identity_string_partition(spark, warehouse):
    """An identity partition on a STRING column (fmt) must range-bucket and
    rewrite correctly — the bounds/mapping DataFrames derive partition-column
    types from the table schema, not assumed ints."""
    from ocel_ocpn_lakehouse_spark.core.spec import PartitionField

    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images_by_fmt",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec((PartitionField("fmt", "identity", "fmt"),)),
            sort_order=SortOrder.by("phash"),
            properties=TEST_PROPS,
        ),
    )
    t.append(synth_images_df(spark, n_rows=300, seed=7), num_files=8, distribution="fragment")
    before = column_checksums(t.scan(spark))
    res = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images_by_fmt", curve="zorder")
    assert res["status"] == "committed"
    t.refresh()
    assert column_checksums(t.scan(spark)) == before
    # every live file belongs to a string-valued fmt partition
    assert {e.partition.get(next(iter(t.partition_spec.partition_columns()))) for e in t.live_entries()} <= {"png", "jpeg"}


def test_distributed_planner_parity_and_scale(spark, warehouse):
    """plan_compaction_distributed == plan_compaction on a real table, and
    a 50k-entry manifest plans without driver-side entry materialization
    (the plan collected is O(groups), built from entries_df)."""
    from ocel_ocpn_lakehouse_spark.core import manifests as mf
    from ocel_ocpn_lakehouse_spark.maintenance.compact import plan_compaction_distributed

    cat, t = fragmented_table(spark, warehouse)
    a = {g.group_id: sorted(g.input_paths) for g in plan_compaction(t)}
    b = {g.group_id: sorted(g.input_paths) for g in plan_compaction_distributed(spark, t)}
    assert a == b and len(a) > 0

    # forge a 50k-file manifest (no data files needed for planning)
    cat2 = Catalog(warehouse + "_big")
    big = cat2.create_table(
        "ocel.big",
        IMAGE_SCHEMA,
        TableSpec(partition_spec=PartitionSpec.bucket("image_id", BUCKETS), properties=TEST_PROPS),
    )
    fake = [
        mf.ManifestEntry(
            path=f"data/_p_image_id_bucket={i % BUCKETS}/f{i:06d}.parquet",
            partition={"_p_image_id_bucket": i % BUCKETS},
            size_bytes=40_000 + (i % 17) * 1000,
            record_count=100,
        )
        for i in range(50_000)
    ]
    big.commit_append(fake)
    groups = plan_compaction_distributed(spark, big)
    assert sum(len(g.input_paths) for g in groups) == 50_000
    target = big.target_file_size
    assert all(g.input_bytes <= target for g in groups)


def test_merge_huge_source_fallback(spark, warehouse, monkeypatch):
    """Sources above the broadcast threshold take the distributed anti-join
    path; results must match the Arrow per-file path bit-for-bit."""
    import pandas as pd

    from ocel_ocpn_lakehouse_spark.maintenance import merge as M

    cat, t = fragmented_table(spark, warehouse, n_rows=150, n_files=6)
    source = synth_merge_source_df(spark, n_target_rows=150, seed=7)

    tgt_pd = t.scan(spark).select("image_id", "caption", "phash").toPandas()
    src_pd = source.select("image_id", "caption", "phash", "_op").toPandas()
    del_ids = set(src_pd[src_pd._op == "delete"].image_id)
    ups = src_pd[src_pd._op == "upsert"]
    expected = tgt_pd[~tgt_pd.image_id.isin(set(ups.image_id) | del_ids)]
    expected = pd.concat([expected, ups[["image_id", "caption", "phash"]]])
    expected = expected.sort_values("image_id").reset_index(drop=True)

    monkeypatch.setattr(M, "BROADCAST_THRESHOLD_ROWS", 0)  # force fallback
    res = M.merge_into(spark, t, source, key="image_id")
    assert res["status"] == "committed"
    t.refresh()
    got = (
        t.scan(spark)
        .select("image_id", "caption", "phash")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected)


def test_maintenance_after_schema_evolution(spark, warehouse):
    """Additive schema evolution (T8) must not break the Arrow rewrite
    paths: files written BEFORE add_column lack the new column and are
    null-filled by read_table_nullfill in compact/cluster/merge/verify."""
    from pyspark.sql import types as T

    from ocel_ocpn_lakehouse_spark.maintenance.verify import verify_checksum_equivalence

    cat, t = fragmented_table(spark, warehouse, n_rows=120, n_files=8)
    pre_snap = t.current_snapshot().snapshot_id
    t.add_column("rating", T.DoubleType())
    # append post-evolution data that HAS the column
    post = synth_images_df(spark, n_rows=30, seed=13).withColumn("rating", F.lit(1.5))
    t.append(post, num_files=2)
    assert t.scan(spark).filter(F.col("rating").isNull()).count() == 120

    st = SystemTables(cat.warehouse)
    res_c = execute_compaction(spark, t, st, "ocel.images")
    assert res_c["status"] == "committed"
    t.refresh()
    res_z = execute_cluster(spark, t, st, "ocel.images", curve="zorder")
    assert res_z["status"] == "committed"
    t.refresh()
    # null-fill preserved through both rewrites
    assert t.scan(spark).count() == 150
    assert t.scan(spark).filter(F.col("rating").isNull()).count() == 120
    assert t.scan(spark).filter(F.col("rating") == 1.5).count() == 30

    # merge over the evolved table (Arrow per-file path)
    src = synth_merge_source_df(spark, n_target_rows=120, seed=5).withColumn(
        "rating", F.lit(9.9)
    )
    res_m = merge_into(spark, t, src, key="image_id")
    assert res_m["status"] == "committed"
    t.refresh()
    assert t.scan(spark).filter(F.col("rating") == 9.9).count() > 0

    v = verify_checksum_equivalence(spark, t, t.current_snapshot().snapshot_id)
    assert v["passed"]


def test_merge_null_key_rows_survive(spark, warehouse):
    """SQL MERGE: a NULL target key matches nothing — null-key rows must
    survive the Arrow per-file rewrite even when the source also carries
    NULL keys (regression: 'k not in {None,...}' deleted them)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.StringType(), True), T.StructField("v", T.StringType(), True)]
    )
    cat = Catalog(warehouse)
    t = cat.create_table("ns.kv", schema, TableSpec())
    t.append(spark.createDataFrame([(None, "null-row"), ("A", "a"), ("B", "b")], schema))

    src = spark.createDataFrame(
        [("A", "a2", "upsert"), (None, "ghost", "delete")],
        "k string, v string, _op string",
    )
    res = merge_into(spark, t, src, key="k")
    assert res["status"] == "committed"
    t.refresh()
    got = {(r["k"], r["v"]) for r in t.scan(spark).collect()}
    assert (None, "null-row") in got  # survived
    assert ("A", "a2") in got and ("B", "b") in got
    assert ("A", "a") not in got


def _keys_in_bounds(keys: list, lo, hi) -> bool:
    """The shared bounds rule (core/table.py ``_bounds_overlap``) for an
    ``in`` key set, as the key probe and scan pruning both apply it."""
    from ocel_ocpn_lakehouse_spark.core.table import _bounds_overlap, prepare_predicates

    return _bounds_overlap(prepare_predicates([PrunePredicate("k", "in", keys)])[0], lo, hi)


def test_merge_bounds_pruning_unit():
    """The key probe's bounds rule: bisect overlap between the sorted
    source keys and a file's [lo, hi] manifest key range, with
    conservative fallbacks."""
    keys = [10, 20, 30]
    assert _keys_in_bounds(keys, 15, 25)  # 20 inside
    assert _keys_in_bounds(keys, 30, 99)  # boundary hit
    assert _keys_in_bounds(keys, 0, 10)  # boundary hit low
    assert not _keys_in_bounds(keys, 21, 29)  # gap between keys
    assert not _keys_in_bounds(keys, 31, 99)  # above all
    assert not _keys_in_bounds(keys, 0, 9)  # below all
    # stringified bounds (JSON default=str) coerce to the key type
    assert _keys_in_bounds(keys, "15", "25")
    assert not _keys_in_bounds(keys, "21", "29")
    # string keys compare lexicographically
    assert _keys_in_bounds(["img_05", "img_99"], "img_90", "img_zz")
    assert not _keys_in_bounds(["img_05", "img_99"], "img_10", "img_20")
    # conservative: missing/uncoercible bounds never prune
    assert _keys_in_bounds(keys, None, 25)
    assert _keys_in_bounds(keys, 15, None)
    assert _keys_in_bounds(keys, "not-a-number", "25")
    # an empty key set can hold no key of any file (``in ()`` prunes
    # every file with bounds, as scan pruning always did)
    assert not _keys_in_bounds([], 15, 25)


def test_merge_probe_bounds_prune_skips_untouched_files(spark, warehouse):
    """On a table clustered by the merge key, a narrow-key-range merge must
    leave files outside the range untouched — and produce the same result
    as the pandas oracle."""
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images_by_key",
        IMAGE_SCHEMA,
        TableSpec(sort_order=SortOrder.by("image_id"), properties=TEST_PROPS),
    )
    df = synth_images_df(spark, n_rows=200, seed=42)
    # range-distribute so each file covers a disjoint image_id range
    t.append(df.repartitionByRange(8, "image_id").sortWithinPartitions("image_id"))
    files_before = len(t.live_entries())
    assert files_before >= 4

    # delete 3 consecutive keys: they live in at most 2 range files
    ids = sorted(r[0] for r in t.scan(spark).select("image_id").collect())
    victims = ids[50:53]
    src = (
        t.scan(spark)
        .filter(F.col("image_id").isin(victims))
        .withColumn("_op", F.lit("delete"))
    )
    res = merge_into(spark, t, src, key="image_id")
    assert res["status"] == "committed"
    assert res["touched_files"] <= 2
    t.refresh()
    assert t.scan(spark).count() == 200 - 3
    assert t.scan(spark).filter(F.col("image_id").isin(victims)).count() == 0


def test_fused_rewrite_matches_compact_then_cluster(spark, warehouse):
    """--op rewrite (cluster on fragmented input) must land the same table
    state as compact-then-cluster in HALF the byte passes: identical
    scan checksums, bin-packed ≈target-size output, per-file zkey stats."""
    cat1, t1 = fragmented_table(spark, warehouse + "_fused")
    cat2, t2 = fragmented_table(spark, warehouse + "_twopass")
    before = column_checksums(t1.scan(spark))
    n_input = len(t1.live_entries())

    res_f = execute_cluster(spark, t1, SystemTables(cat1.warehouse), "ocel.images")
    assert res_f["status"] == "committed"

    execute_compaction(spark, t2, SystemTables(cat2.warehouse), "ocel.images")
    t2.refresh()
    execute_cluster(spark, t2, SystemTables(cat2.warehouse), "ocel.images")

    t1.refresh(); t2.refresh()
    assert column_checksums(t1.scan(spark)) == before
    assert column_checksums(t2.scan(spark)) == before

    fused, twopass = t1.live_entries(), t2.live_entries()
    # bin-packing: fragmented input collapsed to the clustered layout —
    # same file count as the two-pass path, far fewer than the input
    assert len(fused) == len(twopass) < n_input
    assert all("_zkey" in e.lower_bounds for e in fused)
    # one pass over the bytes vs two: fused rewrites each byte once
    bytes_now = sum(e.size_bytes for e in fused)
    assert abs(bytes_now - sum(e.size_bytes for e in twopass)) < 0.1 * bytes_now


def test_cli_rewrite_op(spark, warehouse, capsys):
    """maintenance CLI --op rewrite runs the fused path end-to-end."""
    from ocel_ocpn_lakehouse_spark.maintenance.run import main as cli_main

    fragmented_table(spark, warehouse)
    rc = cli_main([
        "--warehouse", warehouse, "--table", "ocel.images", "--op", "rewrite",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rewrite"]["status"] == "committed"
    assert rep["rewrite"]["files_after"] < rep["rewrite"]["files_before"]


def test_bloom_filter_unit():
    """Manifest bloom: no false negatives ever; fpp near the 1% design
    point; build-side Python arithmetic wraps exactly like the probe's
    numpy uint64 (a mismatch would create silent false negatives)."""
    import random

    from ocel_ocpn_lakehouse_spark.core import manifests as mf

    random.seed(7)
    ints = [random.randrange(10**14) for _ in range(4000)]
    strs = [f"img_{i:08d}" for i in range(3000)]
    for vals in (ints, strs):
        b = mf.build_bloom(vals)
        for v in vals[::7]:  # every member must hit
            assert mf.bloom_any_contains(b, mf.bloom_key_hashes([v]))
        absent = (
            [v + 10**15 for v in ints[:1500]] if vals is ints
            else [f"zzz_{i}" for i in range(1500)]
        )
        fp = sum(mf.bloom_any_contains(b, mf.bloom_key_hashes([v])) for v in absent)
        assert fp / len(absent) < 0.05
    # conservative fallbacks
    assert mf.build_bloom([None, None]) is None
    assert mf.bloom_any_contains(None, mf.bloom_key_hashes([1]))
    assert mf.bloom_any_contains({"m": 64, "k": 2, "b64": "AAAAAAAA"}, mf.bloom_key_hashes([]))


def test_merge_bloom_pruning_end_to_end(spark, warehouse):
    """With write.bloom-columns on, compaction stamps per-file blooms into
    the manifest; a merge of keys absent from most files must (a) return
    the exact oracle result and (b) have bloom evidence that would skip
    the untouched files even though bounds cannot (bucket-hashed layout =
    every file's key range spans the keyspace)."""
    import json

    from ocel_ocpn_lakehouse_spark.core import manifests as mf

    cat = Catalog(warehouse)
    props = dict(TEST_PROPS)
    props["write.bloom-columns"] = "image_id"
    t = cat.create_table(
        "ocel.images_bloom",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
            sort_order=SortOrder.by("phash"),
            properties=props,
        ),
    )
    t.append(synth_images_df(spark, n_rows=300, seed=42), num_files=12, distribution="fragment")
    st = SystemTables(cat.warehouse)
    execute_compaction(spark, t, st, "ocel.images_bloom")
    t.refresh()
    entries = t.live_entries()
    with_bloom = [e for e in entries if "image_id" in e.blooms]
    assert with_bloom, "compaction must stamp image_id blooms"

    # pick 2 victim keys from ONE file; bounds can't prune (hash layout)
    victim_file = with_bloom[0]
    p = os.path.join(t.root, victim_file.path)
    import pyarrow.parquet as pq

    victims = pq.read_table(p, columns=["image_id"]).column("image_id").to_pylist()[:2]
    kh = mf.bloom_key_hashes(victims)
    ks = sorted(victims)
    skipped_by_bloom = 0
    for e in with_bloom:
        in_bounds = _keys_in_bounds(
            ks, e.lower_bounds.get("image_id"), e.upper_bounds.get("image_id")
        )
        might = mf.bloom_any_contains(e.blooms.get("image_id"), kh)
        if in_bounds and not might:
            skipped_by_bloom += 1
        if e.path == victim_file.path:
            assert might, "bloom must never exclude a file that holds the key"
    assert skipped_by_bloom > 0, "bloom must prune files bounds cannot"

    # end-to-end: delete the victims; only their file is touched; oracle holds
    src = (
        t.scan(spark)
        .filter(F.col("image_id").isin(victims))
        .withColumn("_op", F.lit("delete"))
    )
    res = merge_into(spark, t, src, key="image_id")
    assert res["status"] == "committed"
    # probe observability: blooms skipped files bounds could not, and the
    # probe read strictly fewer files than it was given
    assert res["probe"]["skipped_by_bloom"] > 0
    assert res["probe"]["files_read"] < len(entries)
    t.refresh()
    assert t.scan(spark).filter(F.col("image_id").isin(victims)).count() == 0
    assert t.scan(spark).count() == 300 - 2
    # survivor file written by the merge carries a refreshed bloom
    assert any(
        "image_id" in e.blooms for e in t.live_entries()
        if e.path not in {x.path for x in entries}
    )
    # scan-layer point lookup prunes via bloom too: an absent key matches
    # no bloom-stamped file, a present key's file always survives
    live = [e for e in t.live_entries() if "image_id" in e.blooms]
    some_key = None
    for e in live:
        vals = pq.read_table(os.path.join(t.root, e.path), columns=["image_id"])
        some_key = vals.column("image_id").to_pylist()[0]
        holder = e
        break
    kept_present = [
        e for e in live if t._entry_matches(e, [PrunePredicate("image_id", "=", some_key)])
    ]
    kept_absent = [
        e
        for e in live
        if t._entry_matches(e, [PrunePredicate("image_id", "=", "no_such_image_id")])
    ]
    assert holder in kept_present
    assert len(kept_absent) < len(live), "absent key must bloom-prune files"
    assert t.scan(spark, prune=[PrunePredicate("image_id", "=", some_key)]).filter(
        F.col("image_id") == some_key
    ).count() == 1


def test_blooms_stamped_at_append(spark, warehouse):
    """With write.bloom-columns set, plain appends already carry blooms —
    no rewrite needed (collect_stats reads the key column per new file)."""
    from ocel_ocpn_lakehouse_spark.core import manifests as mf

    cat = Catalog(warehouse)
    props = dict(TEST_PROPS)
    props["write.bloom-columns"] = "image_id"
    t = cat.create_table(
        "ocel.images_ab",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", BUCKETS),
            sort_order=SortOrder.by("phash"),
            properties=props,
        ),
    )
    # >16 files exercises the distributed collect_stats branch
    t.append(synth_images_df(spark, n_rows=200, seed=42), num_files=20, distribution="fragment")
    entries = t.live_entries()
    assert entries and all("image_id" in e.blooms for e in entries)
    # a present key hits its file's bloom; a junk key prunes
    import pyarrow.parquet as pq

    e0 = entries[0]
    vid = (
        pq.read_table(os.path.join(t.root, e0.path), columns=["image_id"])
        .column("image_id").to_pylist()[0]
    )
    assert mf.bloom_any_contains(e0.blooms["image_id"], mf.bloom_key_hashes([vid]))
    kept = [
        e for e in entries
        if t._entry_matches(e, [PrunePredicate("image_id", "=", "junk_key")])
    ]
    assert len(kept) < len(entries)


def test_cli_auto_op_runs_only_whats_needed(spark, warehouse, capsys):
    """--op auto: the autonomous pass rewrites a fragmented table (health
    thresholds → actions) and reports 'none' on the second run when the
    table is already healthy."""
    import json as _json

    from ocel_ocpn_lakehouse_spark.maintenance.run import main as cli_main

    wh = str(warehouse)
    cli_main(["--warehouse", wh, "--op", "synth", "--rows", "400", "--files", "64"])
    capsys.readouterr()

    cli_main(["--warehouse", wh, "--op", "auto"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["actions"] == ["rewrite"]
    assert rep["rewrite"]["status"] == "committed"

    cli_main(["--warehouse", wh, "--op", "auto"])
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["actions"] == ["none"]
    assert "rewrite" not in rep2


def test_cluster_sketch_bounds_path_equivalence(spark, warehouse, monkeypatch):
    """Forcing the percentile_approx bounds path (the route for partitions
    whose sample would concentrate in one Arrow task) must still produce a
    committed, scan-equivalent clustering — sketch error may shift file
    sizes, never rows."""
    from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
    from ocel_ocpn_lakehouse_spark.maintenance import cluster as cluster_mod

    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 2),
            sort_order=SortOrder.by("phash"),
            properties={
                "write.target-file-size-bytes": str(256 * 1024),
                "compact.small-file-bytes": str(128 * 1024),
            },
        ),
    )
    t.append(synth_images_df(spark, n_rows=400, seed=5), num_files=16, distribution="fragment")
    want = t.scan(spark).selectExpr(
        "count(*) n", "sum(cast(xxhash64(md5(bytes)) as decimal(38,0))) b"
    ).first()

    monkeypatch.setattr(cluster_mod, "BOUNDS_EXACT_MAX_SAMPLES", 1)  # force sketch
    r = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images", curve="zorder")
    assert r["status"] == "committed"
    t = t.refresh()
    got = t.scan(spark).selectExpr(
        "count(*) n", "sum(cast(xxhash64(md5(bytes)) as decimal(38,0))) b"
    ).first()
    assert tuple(got) == tuple(want)


def test_cluster_bounds_cap_counts_the_pool_of_every_partition(spark, warehouse, monkeypatch):
    """The exact bounds pool on the driver, so the sample cap holds for the
    total over all partitions: a cap above every partition's estimate but
    below their sum takes the sketch path, and rows are unchanged."""
    from ocel_ocpn_lakehouse_spark.maintenance import cluster as cluster_mod

    cat, t = fragmented_table(spark, warehouse, n_rows=400, n_files=16)
    target = t.target_file_size
    part_bytes: dict[str, int] = {}
    part_files: dict[str, int] = {}
    for e in t.live_entries():
        k = json.dumps(e.partition, sort_keys=True)
        part_bytes[k] = part_bytes.get(k, 0) + e.size_bytes
        part_files[k] = part_files.get(k, 0) + 1
    ests = [
        max(1_000 * -(-b // target), 16 * part_files[k])
        for k, b in part_bytes.items()
        if b > target
    ]
    assert len(ests) >= 2  # more than one partition needs bounds
    want = column_checksums(t.scan(spark))

    calls = []
    real = F.percentile_approx
    monkeypatch.setattr(F, "percentile_approx", lambda *a, **k: calls.append(1) or real(*a, **k))
    monkeypatch.setattr(cluster_mod, "BOUNDS_EXACT_MAX_SAMPLES", max(ests))
    r = execute_cluster(spark, t, SystemTables(cat.warehouse), "ocel.images")
    assert r["status"] == "committed"
    assert calls  # the sketch path ran
    assert column_checksums(t.refresh().scan(spark)) == want


def test_orphan_sweep_after_crashed_two_phase_write(spark, warehouse):
    """Fault injection on the two-phase write: publish_staged moves files
    into data/ BEFORE the snapshot commit — crash there strands them. The
    sweep (grace=0) must remove EXACTLY the stranded files; with the
    default grace window the same just-published files are treated as a
    possibly-in-flight commit and kept, so a concurrent writer's publish
    can never be yanked out from under its commit."""
    from ocel_ocpn_lakehouse_spark.images.synth import synth_images_df

    cat, t = fragmented_table(spark, warehouse, n_rows=60, n_files=4)
    before = column_checksums(t.scan(spark))
    committed = {e.path for e in t.live_entries()}

    # crash between phase 1 (publish into data/) and phase 2 (commit):
    # write_data_files returns entries that never reach commit_append
    stranded = {e.path for e in t.write_data_files(synth_images_df(spark, 30), num_files=2)}
    assert stranded and stranded.isdisjoint(committed)

    # within the grace window the stranded files look like an in-flight
    # publish: kept, and reported as such
    rep = sweep_orphans(t)  # default 24h grace
    assert rep["orphans"] == 0 and rep["kept_in_grace"] == len(stranded)
    for p in stranded:
        assert os.path.exists(os.path.join(t.root, p))

    # recovery sweep (no live writers → grace 0): exactly the orphans go
    rep = sweep_orphans(t, older_than_hours=0.0)
    assert rep["orphans"] == len(stranded)
    assert set(rep["paths"]) <= stranded
    for p in stranded:
        assert not os.path.exists(os.path.join(t.root, p))
    for p in committed:
        assert os.path.exists(os.path.join(t.root, p))
    assert column_checksums(t.refresh().scan(spark)) == before

    # idempotent: nothing left to sweep
    assert sweep_orphans(t, older_than_hours=0.0)["orphans"] == 0


def test_auto_op_sweeps_orphans(spark, warehouse, tmp_path):
    """--op auto's closing tick reclaims crashed-write orphans through the
    CLI (grace overridden to 0 for the test, as a recovery run would)."""
    import json as _json

    from ocel_ocpn_lakehouse_spark.images.synth import synth_images_df
    from ocel_ocpn_lakehouse_spark.maintenance.run import main as maintain_main

    cat, t = fragmented_table(spark, warehouse, name="ocel.sweepme", n_rows=60, n_files=4)
    stranded = {e.path for e in t.write_data_files(synth_images_df(spark, 30), num_files=2)}
    out = tmp_path / "auto.json"
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = maintain_main([
            "--warehouse", warehouse, "--table", "ocel.sweepme",
            "--op", "auto", "--orphan-grace-hours", "0",
        ])
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["orphans"]["orphans"] == len(stranded)
    assert "sweep" in rep["actions"]
    for p in stranded:
        assert not os.path.exists(os.path.join(t.root, p))
