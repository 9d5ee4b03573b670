import os

from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.health import pruning_effectiveness
from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate
from ocel_ocpn_lakehouse_spark.maintenance.verify import (
    verify_checksum_equivalence,
    verify_decode_phash,
    verify_scan_equivalence,
)


def make_table(spark, warehouse, rows=120, files=8):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "v.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 4),
            sort_order=SortOrder.by("phash"),
            properties={
                "write.target-file-size-bytes": str(1024 * 1024),
                "compact.small-file-bytes": str(256 * 1024),
            },
        ),
    )
    t.append(synth_images_df(spark, n_rows=rows, seed=11), num_files=files, distribution="fragment")
    return cat, t


def test_verify_passes_after_compaction(spark, warehouse):
    cat, t = make_table(spark, warehouse)
    pre = t.current_snapshot().snapshot_id
    execute_compaction(spark, t, SystemTables(cat.warehouse), "v.images")
    t.refresh()
    v1 = verify_scan_equivalence(spark, t, pre)
    assert v1["passed"] and v1["pass_rate"] == 1.0 and v1["rows"] == 120
    v2 = verify_checksum_equivalence(spark, t, pre)
    assert v2["passed"]
    v3 = verify_decode_phash(spark, t)
    assert v3["passed"] and v3["rows"] == 120


def test_verify_detects_tampering(spark, warehouse):
    cat, t = make_table(spark, warehouse, rows=60, files=4)
    pre = t.current_snapshot().snapshot_id
    # maliciously overwrite with one caption changed (single commit)
    tampered = t.scan(spark).withColumn(
        "caption",
        F.when(F.col("image_id") == "img_000000000003", F.lit("TAMPERED")).otherwise(
            F.col("caption")
        ),
    )
    t.overwrite(tampered, num_files=2)
    v1 = verify_scan_equivalence(spark, t, pre)
    assert not v1["passed"]
    assert v1["caption_mismatch"] == 1
    v2 = verify_checksum_equivalence(spark, t, pre)
    assert not v2["passed"]


def test_verify_detects_row_loss(spark, warehouse):
    cat, t = make_table(spark, warehouse, rows=60, files=4)
    pre = t.current_snapshot().snapshot_id
    t.overwrite(t.scan(spark).filter(F.col("image_id") != "img_000000000005"), num_files=2)
    v = verify_scan_equivalence(spark, t, pre)
    assert not v["passed"] and v["row_mismatch"] == 1


def test_checksum_verify_applies_delete_vectors(spark, warehouse):
    """The checksum reads live rows: a merge-on-read delete changes the
    snapshot's content, and compaction absorbing the tombstones does not."""
    cat, t = make_table(spark, warehouse, rows=60, files=4)
    pre = t.current_snapshot().snapshot_id
    res = delete_where(spark, t, "image_id IN ('img_000000000003', 'img_000000000005')")
    assert res["deleted_rows"] == 2
    t.refresh()
    tombstoned = t.current_snapshot().snapshot_id
    v = verify_checksum_equivalence(spark, t, pre)
    assert not v["passed"]
    assert (v["pre"]["n"], v["post"]["n"]) == (60, 58)

    execute_compaction(spark, t, SystemTables(cat.warehouse), "v.images")
    t.refresh()
    assert not any(e.deletes for e in t.live_entries())
    v = verify_checksum_equivalence(spark, t, tombstoned)
    assert v["passed"] and v["rows"] == 58
    assert verify_scan_equivalence(spark, t, tombstoned)["passed"]


def test_pruning_effectiveness_probe(spark, warehouse):
    cat, t = make_table(spark, warehouse, rows=200, files=8)
    key = "img_000000000042"
    b = t.bucket_value(spark, key)
    rep = pruning_effectiveness(
        spark,
        t,
        [PrunePredicate("_p_image_id_bucket", "=", b)],
        residual_filter=F.col("image_id") == key,
    )
    assert rep["consistent"] and rep["rows_full"] == 1
    assert rep["files_pruned_pct"] > 50.0
