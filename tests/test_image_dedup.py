"""Perceptual image dedup executed as a maintenance op (image_dedup.py)
and the key-set MoR delete underneath it (deletes.delete_keys).

Every dedup assertion is an exact-set check against an independent
driver-side brute force (pairwise Hamming + union-find + the survivor
policy re-implemented in plain Python) over the table's actual phash
column — the op claims exact semantics, so the tests demand them.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction, plan_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_keys
from ocel_ocpn_lakehouse_spark.maintenance.image_dedup import dedup_images, plan_image_dedup

MAXD = 6


def _table(spark, warehouse, n_rows=300, n_files=12, buckets=4):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", buckets),
            sort_order=SortOrder.by("phash"),
            properties={"compact.target-file-bytes": str(4 * 1024 * 1024)},
        ),
    )
    t.append(
        synth_images_df(spark, n_rows=n_rows, seed=7, hot_key_fraction=0.15, n_hot_bases=3),
        num_files=n_files,
        distribution="fragment",
    )
    return cat, t


def _brute_losers(rows, policy="resolution", max_dist=MAXD):
    """(image_id, phash, w, h) rows -> loser id set, survivor policy in
    plain Python: pairwise Hamming, union-find, best (res desc, id asc)."""
    parent = {r.image_id: r.image_id for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(rows, 2):
        if bin((a.phash ^ b.phash) & ((1 << 64) - 1)).count("1") <= max_dist:
            ra, rb = find(a.image_id), find(b.image_id)
            if ra != rb:
                parent[ra] = rb
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(find(r.image_id), []).append(r)
    losers = set()
    for members in groups.values():
        if len(members) < 2:
            continue
        if policy == "resolution":
            best = min(members, key=lambda r: (-(r.w * r.h), r.image_id))
        else:
            best = min(members, key=lambda r: r.image_id)
        losers.update(r.image_id for r in members if r.image_id != best.image_id)
    return losers


def _ids(df):
    return {r["image_id"] for r in df.select("image_id").collect()}


@pytest.mark.parametrize("policy", ["resolution", "min_id"])
def test_dedup_images_matches_bruteforce(spark, warehouse, policy):
    _, t = _table(spark, warehouse)
    rows = t.scan(spark, columns=["image_id", "phash", "w", "h"]).collect()
    want_losers = _brute_losers(rows, policy=policy)
    assert len(want_losers) > 10  # the planted hot clusters are real

    res = dedup_images(spark, t, max_dist=MAXD, policy=policy)
    assert res["status"] == "deleted" and res["losers"] == len(want_losers)
    assert res["deleted_rows"] == len(want_losers)
    assert _ids(t.scan(spark)) == {r.image_id for r in rows} - want_losers


def test_dedup_images_idempotent_and_snapshot_isolated(spark, warehouse):
    _, t = _table(spark, warehouse)
    before = t.current_snapshot().snapshot_id
    n_before = t.scan(spark).count()

    res1 = dedup_images(spark, t)
    assert res1["status"] == "deleted" and res1["deleted_rows"] > 0
    n_after = t.scan(spark).count()
    assert n_after == n_before - res1["deleted_rows"]

    # re-running finds nothing: losers are tombstoned out of the scan that
    # feeds pair generation, so survivors (still within max_dist of each
    # other's groups' ghosts) must NOT be re-deleted
    res2 = dedup_images(spark, t)
    assert res2["status"] == "no-duplicates" and res2["losers"] == 0
    assert t.scan(spark).count() == n_after

    # time travel: the pre-dedup snapshot still serves every row
    assert t.scan(spark, snapshot_id=before).count() == n_before


def test_dedup_images_dry_run_commits_nothing(spark, warehouse):
    _, t = _table(spark, warehouse)
    snap = t.current_snapshot().snapshot_id
    res = dedup_images(spark, t, dry_run=True)
    assert res["status"] == "planned" and res["losers"] > 0
    assert t.current_snapshot().snapshot_id == snap
    # the plan is exactly what execution would delete
    assert res["losers"] == plan_image_dedup(spark, t).count()


def test_compaction_absorbs_image_dedup_tombstones(spark, warehouse):
    cat, t = _table(spark, warehouse)
    dedup_images(spark, t)
    survivors = _ids(t.scan(spark))
    groups = plan_compaction(t)
    assert groups, "fragmented table should plan compaction groups"
    execute_compaction(spark, t, SystemTables(cat.warehouse), "ocel.images", groups=groups)
    assert _ids(t.scan(spark)) == survivors
    assert all(not e.deletes for e in t.live_entries()), "rewritten files must be DV-free"


def test_delete_keys_bucket_pruning_idempotence(spark, warehouse):
    _, t = _table(spark, warehouse, n_files=12, buckets=4)
    all_ids = sorted(_ids(t.scan(spark)))
    # keys from ONE bucket: candidate files must shrink to that bucket's
    victims = spark.createDataFrame([(all_ids[0],), (all_ids[1],)], "image_id string")
    total_files = len(t.live_entries())
    res = delete_keys(spark, t, victims, key_col="image_id")
    assert res["status"] == "deleted" and res["deleted_rows"] == 2
    assert res["candidate_files"] < total_files, "bucket pruning did not prune"
    assert set(all_ids) - _ids(t.scan(spark)) == {all_ids[0], all_ids[1]}

    # same key set again: tombstone exclusion makes it a no-op
    res2 = delete_keys(spark, t, victims, key_col="image_id")
    assert res2["status"] == "no-matches" and res2["deleted_rows"] == 0


def test_delete_keys_shuffle_path_matches_broadcast(spark, warehouse, monkeypatch):
    from ocel_ocpn_lakehouse_spark.maintenance import merge

    _, t = _table(spark, warehouse, n_rows=120, n_files=6)
    ids = sorted(_ids(t.scan(spark)))[:7]
    keys = spark.createDataFrame([(i,) for i in ids], "image_id string")
    monkeypatch.setattr(merge, "BROADCAST_THRESHOLD_ROWS", 1)
    res = delete_keys(spark, t, keys, key_col="image_id")
    assert res["status"] == "deleted" and res["deleted_rows"] == len(ids)
    assert not _ids(t.scan(spark)) & set(ids)


def test_plan_image_dedup_rejects_unknown_policy(spark, warehouse):
    _, t = _table(spark, warehouse, n_rows=50, n_files=2)
    with pytest.raises(ValueError, match="survivor policy"):
        plan_image_dedup(spark, t, policy="newest")
