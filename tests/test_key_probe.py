"""The one key probe (core/dv.py ``probe``) and the delete-vector boundary.

MERGE (both strategies), ``delete_keys`` and the merge-keys writer find
the rows a key set hits with the same Arrow probe; the merge-on-read
callers write the hits from the probe tasks as DV fragments, so no JVM
pass re-scans the touched files. Row positions from Spark scans are named
by Spark's percent-encoded ``_metadata.file_path`` URI, which ``dv.uri``
spells exactly, so a table root or partition value may hold a space,
``%``, ``#``, ``+`` or non-ASCII characters.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import ocel_ocpn_lakehouse_spark
from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, TableSpec, dv
from ocel_ocpn_lakehouse_spark.core.spec import PartitionField
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance import merge
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_keys, delete_where
from ocel_ocpn_lakehouse_spark.maintenance.transform import transform_where
from ocel_ocpn_lakehouse_spark.sources import register_lakehouse_source


def _jobs(spark, group, run):
    """(result of ``run()``, ids of the Spark jobs it ran, ascending)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _image_table(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table(
        "ocel.images", IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 4),
            properties={"write.bloom-columns": "image_id"},
        ),
    )
    t.append(synth_images_df(spark, n_rows=200, seed=42), num_files=8, distribution="fragment")
    delete_where(spark, t.refresh(), "w = 32")
    return t.refresh()


def _rows(t, spark):
    return sorted(tuple(r) for r in t.scan(spark).drop("bytes").collect())


def test_mor_merge_runs_no_more_jobs_than_cow(spark, warehouse):
    """MoR's probe tasks write the tombstones, so a MoR MERGE runs no more
    Spark jobs than a CoW MERGE of the same source into the same table, and
    both land the same rows."""
    got = {}
    for strategy in ("cow", "mor"):
        t = _image_table(spark, f"{warehouse}_{strategy}")
        ids = sorted(r[0] for r in t.scan(spark).select("image_id").collect())
        live = t.scan(spark)
        src = (
            live.filter(F.col("image_id").isin(ids[:12]))
            .withColumn("caption", F.lit("merged")).withColumn("_op", F.lit("upsert"))
            .unionByName(
                live.filter(F.col("image_id").isin(ids[50:54])).withColumn("_op", F.lit("delete"))
            )
        ).localCheckpoint()
        res, jobs = _jobs(
            spark, f"merge-{strategy}", lambda: merge.merge_into(spark, t, src, strategy=strategy)
        )
        assert res["status"] == "committed"
        got[strategy] = (len(jobs), _rows(t.refresh(), spark))
    assert got["mor"][0] <= got["cow"][0], got
    assert got["mor"][1] == got["cow"][1]


def test_broadcast_delete_keys_probes_in_one_python_stage(spark, warehouse, monkeypatch):
    """A broadcastable ``delete_keys`` runs MERGE's key probe once, as the
    one single-stage job that ends the op: no JVM position scan and no
    staged Spark DV write. Re-running it is a no-op."""
    t = _image_table(spark, warehouse)
    ids = sorted(r[0] for r in t.scan(spark).select("image_id").collect())
    calls = []
    real = merge.tasks_rdd
    monkeypatch.setattr(merge, "tasks_rdd", lambda *a, **k: calls.append(1) or real(*a, **k))
    for name in ("scan", "write_hits"):
        monkeypatch.setattr(dv, name, lambda *a, **k: pytest.fail("JVM position path used"))
    keys = spark.createDataFrame([(i,) for i in ids[10:40:3]], "image_id string")

    res, jobs = _jobs(spark, "delete-keys", lambda: delete_keys(spark, t, keys))
    monkeypatch.undo()
    assert res["status"] == "deleted" and res["deleted_rows"] == 10
    assert len(calls) == 1
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobInfo(jobs[-1]).stageIds) == 1
    t = t.refresh()
    assert t.scan(spark).filter(F.col("image_id").isin(ids[10:40:3])).count() == 0
    assert len(os.listdir(os.path.join(t.root, dv.SUBDIR))) == 2  # no fragment is left
    assert delete_keys(spark, t, keys)["status"] == "no-matches"


SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("g", T.StringType()),
])


def _ops_under(spark, root: str) -> list:
    """Every op that names rows by their Spark scan position, run on a
    table under ``root`` whose identity partition values hold characters
    a URI escapes;
    returns the live rows after each op."""
    register_lakehouse_source(spark)
    cat = Catalog(root)
    t = cat.create_table(
        "ns.t", SCHEMA, TableSpec(partition_spec=PartitionSpec((PartitionField("g", "identity", "g"),)))
    )
    t.append(
        spark.range(0, 100).select(
            "id", F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.when(F.col("id") % 2 == 0, "q r%s").otherwise("s\u00a0t").alias("g"),
        ),
        num_files=4,
    )
    out = []

    def snap():
        nonlocal t
        t = t.refresh()
        out.append(sorted(tuple(r) for r in t.scan(spark).collect()))

    assert delete_where(spark, t, "id < 10")["deleted_rows"] == 10
    snap()
    keys = spark.createDataFrame([(i,) for i in (5, 10, 11, 12, 50)], "id long")
    assert delete_keys(spark, t, keys, key_col="id")["deleted_rows"] == 4
    snap()
    src = (
        t.scan(spark).filter(F.col("id").between(20, 32))
        .withColumn("v", F.lit("m")).withColumn("_op", F.lit("upsert"))
    )
    merge.merge_into(spark, t, src, key="id", strategy="mor")
    snap()
    up = t.scan(spark).filter(F.col("id").between(40, 49)).withColumn("v", F.lit("w"))
    up.write.format("lakehouse").option("merge-keys", "id").mode("append").save(t.root)
    snap()
    transform_where(spark, t, "id >= 60 AND id < 65", {"v": "concat(v, '!')"})
    snap()
    return out


ODD_ROOT = "a b%c+d#e é\"<>|^`;=&$,@!~'()\u00a0x"


def test_uri_spells_spark_file_path(spark, tmp_path):
    """``dv.uri`` and the DV side of ``dv.frame`` spell a data file exactly
    as Spark's ``_metadata.file_path`` does: a space, ``%``, ``#``, ``"``,
    ``<``, ``>``, ``|``, ``^``, a backquote and a no-break space escaped,
    ``+``, punctuation and other non-ASCII letters kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / ODD_ROOT)
    rels = [os.path.join("data", "g=q r%25s\u00a0t", "f.parquet"), os.path.join("data", "h.parquet")]
    for i, rel in enumerate(rels):
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        pq.write_table(pa.table({"id": [i]}), os.path.join(root, rel))
    pq.write_table(pa.table({"path": rels, "pos": [0, 0]}), os.path.join(root, "dv.parquet"))
    got = dv.scan(spark, root, T.StructType([T.StructField("id", T.LongType())]), rels, ["id"])
    want = sorted((dv.uri(root, rel), 0) for rel in rels)
    assert sorted((r[dv.FP], r[dv.POS]) for r in got.collect()) == want
    assert sorted(tuple(r) for r in dv.frame(spark, root, ["dv.parquet"], rels).collect()) == want


def test_ops_under_a_percent_encoded_root_match_a_plain_root(spark, tmp_path):
    """Spark percent-encodes a space, ``%`` and ``#`` (among others) in
    ``_metadata.file_path`` but keeps ``+`` and non-ASCII letters. Every
    op gives the same rows under a root holding them as under a plain
    root (a root-prefix mismatch used to raise a spurious ConflictError in
    ``delete_where`` and bring tombstoned rows back after a merge-keys
    upsert)."""
    want = _ops_under(spark, str(tmp_path / "plain"))
    assert len(want[-1]) == 100 - 14
    assert _ops_under(spark, str(tmp_path / ODD_ROOT)) == want


def test_only_the_dv_module_knows_the_dv_format():
    """``core/dv.py`` alone names the DV directory and Spark's row-position
    metadata columns."""
    pkg = os.path.dirname(ocel_ocpn_lakehouse_spark.__file__)
    pattern = re.compile(r"_metadata\.(file_path|row_index)|(?<!\w)_deletes(?!\w)")
    offenders = []
    for d, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(d, f)
            if f.endswith(".py") and os.path.relpath(path, pkg) != os.path.join("core", "dv.py"):
                with open(path, encoding="utf-8") as fh:
                    offenders += [
                        f"{os.path.relpath(path, pkg)}:{i}"
                        for i, line in enumerate(fh, 1)
                        if pattern.search(line)
                    ]
    assert offenders == []
