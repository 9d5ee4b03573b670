"""Training export: aspect-ratio bucketing and WebDataset-style tar shards.

The reference stores image+caption rows in Iceberg and stops there; the
step a 10^12-image table exists FOR — serving resolution-bucketed,
deterministically-sharded training batches — has no counterpart in it
(closest: the raw image schema, schemas/ and ingest/ loaders). This module
is that export surface, Spark-first:

  assign_aspect_buckets   pure column expressions, zero shuffle: each row
                          picks the bucket whose log-aspect is nearest
                          (`array_min` over an array<struct<dist,idx>> —
                          struct ordering IS the argmin, no UDF).
  pack_training_batches   per-bucket contiguous batch packing via the
                          grouped two-phase distributed cumsum in
                          functions/pack.py — batches never mix buckets,
                          every batch except a bucket's last is exactly
                          batch_size rows, and the assignment is a pure
                          function of (order_col, bucket) independent of
                          input layout.
  export_webdataset       one tar per shard via applyInPandas: members are
                          `{key}.{ext}` in key order with zeroed tar
                          metadata, so a shard's bytes — and its manifest
                          sha256 — are bit-reproducible across runs and
                          layouts. The driver only ever sees the manifest
                          (one row per shard).

Scale notes (the 100 TB question): bucketing is embarrassingly parallel;
packing is the audited q51 cumsum shape (narrow projection, O(#partitions
+ #buckets) driver state); export shuffles once on the shard key and then
streams each group to its tar — parallelism = #shards (a 10^12-image
corpus at ~10k images/shard is ~10^8 tasks; raise ``batches_per_shard``
so one tar ~ 0.5-1 GiB, the WebDataset convention, and the group fits
executor memory comfortably). ``out_dir`` must be a
filesystem every executor can write (POSIX path to shared storage; the
task writes to a temp name and renames, so a retried task never publishes
a torn tar).
"""

from __future__ import annotations

import hashlib
import io
import json
import math
import os
import shutil
import tarfile
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.local import local_df
from ..functions.pack import assign_shards

# (w, h) ladder with pairwise-distinct aspect ratios — square, 3:2, 2:3,
# 2:1, 1:2, 4:3, 3:4. Distinct aspects are REQUIRED: the argmin metric is
# |Δ log-aspect|, and duplicate aspects would make the winner an FP
# coin-flip instead of the documented lowest-index tie-break.
DEFAULT_BUCKETS: list[tuple[int, int]] = [
    (64, 64),
    (96, 64),
    (64, 96),
    (128, 64),
    (64, 128),
    (128, 96),
    (96, 128),
]


def assign_aspect_buckets(
    df: DataFrame,
    buckets: Iterable[tuple[int, int]] = DEFAULT_BUCKETS,
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Add ``bucket_id``/``bucket_w``/``bucket_h``: the bucket minimizing
    |ln(w/h) − ln(bw/bh)|, ties to the lowest bucket_id. One expression
    tree per row — no shuffle, no UDF, survives any scale untouched.

    The ladder must carry pairwise-distinct aspect ratios (checked): with
    distinct aspects the nearest-log-aspect winner is FP-stable across
    engines, which is what lets the DuckDB oracle replay the assignment
    bit-for-bit (exact log-midpoint ties between DISTINCT rational aspects
    are impossible — the midpoint is irrational).
    """
    bl = [(int(bw), int(bh)) for bw, bh in buckets]
    if not bl:
        raise ValueError("empty bucket ladder")
    aspects: dict[int, tuple[int, int]] = {}
    for i, (bw, bh) in enumerate(bl):
        for j, (ow, oh) in aspects.items():
            if bw * oh == ow * bh:
                raise ValueError(
                    f"buckets {j} and {i} share aspect ratio {ow}:{oh} — "
                    "the nearest-aspect argmin needs distinct aspects"
                )
        aspects[i] = (bw, bh)
    la = F.log(F.col(w_col).cast("double") / F.col(h_col).cast("double"))
    candidates = F.array(
        *[
            F.struct(
                F.abs(la - F.lit(math.log(bw / bh))).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, (bw, bh) in enumerate(bl)
        ]
    )
    best = F.array_min(candidates)  # struct compare: min dist, then min idx
    wmap = F.array(*[F.lit(bw) for bw, _ in bl])
    hmap = F.array(*[F.lit(bh) for _, bh in bl])
    return (
        df.withColumn("bucket_id", best["i"])
        .withColumn("bucket_w", F.element_at(wmap, F.col("bucket_id") + 1))
        .withColumn("bucket_h", F.element_at(hmap, F.col("bucket_id") + 1))
    )


def pack_training_batches(
    df: DataFrame,
    batch_size: int = 64,
    bucket_col: str = "bucket_id",
    order_col: str = "image_id",
    num_partitions: int | None = None,
    bucket_offsets: dict | None = None,
) -> DataFrame:
    """Add ``shard``: within each bucket, rows in order_col order pack into
    consecutive batches of exactly ``batch_size`` (the bucket's final batch
    may run short). Same-bucket-only batches are the aspect-bucketing
    contract — a training step resizes its whole batch to one target
    resolution. Built on the grouped distributed cumsum with unit weights,
    so no bucket ever serializes into a single window task.

    ``bucket_offsets`` maps bucket id → rows already packed in that bucket
    (incremental export: batch ids continue the existing sequence)."""
    unit = "_unit_weight"
    packed = assign_shards(
        df.withColumn(unit, F.lit(1)),
        token_col=unit,
        budget=int(batch_size),
        order_col=order_col,
        num_partitions=num_partitions,
        group_cols=[bucket_col],
        group_offsets={(k,): v for k, v in (bucket_offsets or {}).items()},
    )
    return packed.drop(unit)


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard_name", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        # packing coordinates + key span (null when the caller shards on
        # something other than (bucket_id, shard)); the incremental export
        # path reconstructs per-bucket boundaries from these
        T.StructField("bucket_id", T.IntegerType(), True),
        T.StructField("shard", T.IntegerType(), True),
        T.StructField("first_key", T.StringType(), True),
        T.StructField("last_key", T.StringType(), True),
    ]
)


def _shard_name_col(shard_cols: list[str], prefix: str = ""):
    """``{prefix}shard-{col}{value:05d}-...tar`` as a column expression —
    the ONE place shard names come from (the tar writer reads the computed
    column, so writer and resume logic cannot drift). format_string('%05d')
    matches python's ``{v:05d}`` exactly (pads, never truncates — unlike
    lpad)."""
    parts = [
        F.concat(F.lit(c), F.format_string("%05d", F.col(c).cast("long")))
        for c in shard_cols
    ]
    return F.concat(
        F.lit(f"{prefix}shard-"), F.concat_ws("-", *parts), F.lit(".tar")
    )


class _HashingFile:
    """Write-through file wrapper: sha256 + byte count while streaming, so
    the tar never sits whole in memory (peak = one member's payload)."""

    def __init__(self, f):
        self._f = f
        self.sha = hashlib.sha256()
        self.n = 0

    def write(self, b):
        self._f.write(b)
        self.sha.update(b)
        self.n += len(b)
        return len(b)

    def tell(self):
        return self.n


def _member_bytes(value) -> bytes:
    if value is None:
        return b""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, str):
        return value.encode("utf-8")
    return json.dumps(value, sort_keys=True, default=str).encode("utf-8")


def export_webdataset(
    df: DataFrame,
    out_dir: str,
    members: list[tuple[str, str]],
    key_col: str = "image_id",
    shard_cols: list[str] = ("bucket_id", "shard"),
    name_prefix: str = "",
    batch_col: str | None = None,
) -> DataFrame:
    """Write one WebDataset-style tar per distinct ``shard_cols`` value and
    return the manifest DataFrame (shard_name, path, n_items, n_bytes,
    sha256). ``members`` maps columns to tar entries per row: ``(col,
    "txt")`` writes ``{key}.txt`` from ``col``; an extension of ``"@fmt"``
    reads the per-row extension from column ``fmt`` (how image bytes pick
    .png/.jpg by their codec). Bytes columns write raw, strings UTF-8,
    anything else canonical JSON. A precomputed ``_shard_name`` column, if
    present, wins over (shard_cols, name_prefix) — callers that filter on
    shard names (resume) compute the name once and pass it through.

    ``batch_col`` (optional) decouples the TAR grouping from the training
    batch: when set, members are named ``{batch:09d}/{key}.{ext}`` — the
    WebDataset sample key carries its training-batch id as a directory
    prefix, so a loader regroups exact batches no matter how many batches
    share one tar. Members sort by (batch, key); with per-bucket batches
    assigned in key order that equals key order, so the determinism
    contract is unchanged.

    Determinism contract: members sort by key within the tar; tar metadata
    (mtime/uid/gid/mode/uname) is zeroed; the shard name is a pure function
    of the shard key. Re-running over any repartitioning of the same rows
    reproduces byte-identical tars — the manifest sha256 is the regression
    oracle. Tasks STREAM the tar to `.tmp-{uuid}` (hashing as they write —
    peak task memory is the pandas group plus one member, not 3x the shard)
    then rename, so a speculative or retried task never publishes a torn
    file; both attempts rename the SAME final bytes, so last-rename-wins is
    benign.
    """
    shard_cols = list(shard_cols)
    os.makedirs(out_dir, exist_ok=True)
    ext_cols = sorted({e[1:] for _, e in members if e.startswith("@")})
    data_cols = [c for c, _ in members]
    # packing coordinates are recorded ONLY when the shard identity really
    # is (bucket_id, shard) — a caller sharding on anything else may still
    # carry those columns, but they'd be arbitrary per-shard values with
    # none of the semantics the incremental path reconstructs from
    coords = (
        ["bucket_id", "shard"]
        if shard_cols == ["bucket_id", "shard"]
        and {"bucket_id", "shard"}.issubset(df.columns)
        else []
    )
    needed = list(
        dict.fromkeys(
            [key_col, *data_cols, *ext_cols, *coords]
            + ([batch_col] if batch_col else [])
        )
    )
    mem_spec = list(members)

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sort_cols = [batch_col, key_col] if batch_col else [key_col]
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        shard_name = str(pdf.iloc[0]["_shard_name"])
        path = os.path.join(out_dir, shard_name)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as raw:
            hf = _HashingFile(raw)
            with tarfile.open(fileobj=hf, mode="w|") as tf:
                for _, row in pdf.iterrows():
                    key = str(row[key_col])
                    if batch_col:
                        key = f"{int(row[batch_col]):09d}/{key}"
                    for col, ext in mem_spec:
                        actual_ext = str(row[ext[1:]]) if ext.startswith("@") else ext
                        payload = _member_bytes(row[col])
                        info = tarfile.TarInfo(name=f"{key}.{actual_ext}")
                        info.size = len(payload)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        info.mode = 0o644
                        tf.addfile(info, io.BytesIO(payload))
        os.replace(tmp, path)
        return pd.DataFrame(
            [
                {
                    "shard_name": shard_name,
                    "path": path,
                    "n_items": len(pdf),
                    "n_bytes": hf.n,
                    "sha256": hf.sha.hexdigest(),
                    "bucket_id": (
                        int(pdf.iloc[0]["bucket_id"])
                        if "bucket_id" in pdf.columns
                        else None
                    ),
                    "shard": (
                        int(pdf.iloc[0]["shard"]) if "shard" in pdf.columns else None
                    ),
                    "first_key": str(pdf.iloc[0][key_col]),
                    "last_key": str(pdf.iloc[-1][key_col]),
                }
            ]
        )

    named = (
        df
        if "_shard_name" in df.columns
        else df.withColumn("_shard_name", _shard_name_col(shard_cols, name_prefix))
    )
    return (
        named.select("_shard_name", *needed)
        .groupBy("_shard_name")
        .applyInPandas(write_shard, schema=_MANIFEST_SCHEMA)
    )


def export_config_fingerprint(
    out_dir: str,
    *,
    key_col: str = "image_id",
    batch_size: int = 64,
    buckets: Iterable[tuple[int, int]] = DEFAULT_BUCKETS,
    members: Iterable[tuple[str, str]] = (("bytes", "@fmt"), ("caption", "txt")),
    batches_per_shard: int = 1,
) -> str:
    """Fingerprint of every packing-relevant export setting — the second
    stamp on the manifest table. Exposed so callers (the auto-maintenance
    freshness tick) can detect a config mismatch WITHOUT triggering the
    full re-export + tar sweep a mismatched job run would perform."""
    cfg = {
        "key_col": key_col,
        "batch_size": int(batch_size),
        "buckets": [list(map(int, b)) for b in buckets],
        "members": [list(m) for m in members],
        "out_dir": os.path.abspath(out_dir),
    }
    if int(batches_per_shard) != 1:
        # keyed only when non-default so pre-existing manifests (stamped
        # before this knob existed) still read as config-matched
        cfg["batches_per_shard"] = int(batches_per_shard)
    return hashlib.md5(json.dumps(cfg, sort_keys=True).encode()).hexdigest()


def _key_caster(dtype):
    """Parse a manifest-stored string key back to the key column's python
    type for driver-side comparisons (O(#buckets) values only). Returns
    None for key types whose string round-trip has no safe comparator
    (dates, timestamps, decimals, binary) — the incremental path then
    declines and the job falls back to a full re-export."""
    s = dtype.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return int
    if s in ("float", "double"):
        return float
    if s == "string":
        return str
    return None


def _pack_named(
    df: DataFrame,
    *,
    batch_size: int,
    batches_per_shard: int,
    key_col: str,
    num_partitions,
    prefix: str,
    bucket_offsets: dict | None = None,
):
    """Pack into training batches, derive the TAR shard id, and stamp the
    shard name. The manifest's ``shard`` coordinate is the tar index
    (= batch // batches_per_shard, so tar size and training batch size are
    independent knobs); the training-batch id survives as ``_batch`` and —
    when several batches share a tar — as the member-name directory
    prefix. Returns (packed_df, batch_col_for_member_names)."""
    bps = int(batches_per_shard)
    if bps < 1:
        raise ValueError("batches_per_shard must be >= 1")
    packed = (
        pack_training_batches(
            df,
            batch_size=batch_size,
            order_col=key_col,
            num_partitions=num_partitions,
            bucket_offsets=bucket_offsets,
        )
        .withColumnRenamed("shard", "_batch")
        .withColumn("shard", F.floor(F.col("_batch") / F.lit(bps)).cast("int"))
        .withColumn("_shard_name", _shard_name_col(["bucket_id", "shard"], prefix))
    )
    return packed, ("_batch" if bps > 1 else None)


def _entry_totals(spark, table, entries) -> tuple[int, int]:
    """(sum n_items, sum n_bytes) over just-written manifest entries — one
    tiny read-back job over the entry paths, so the export job's report
    never re-executes the tar-writing plan and never collects shard rows."""
    if not entries:
        return 0, 0
    paths = [os.path.join(table.root, e.path) for e in entries]
    r = (
        spark.read.schema(_MANIFEST_SCHEMA)
        .parquet(*paths)
        .agg(F.sum("n_items").alias("i"), F.sum("n_bytes").alias("b"))
        .collect()[0]
    )
    return int(r["i"] or 0), int(r["b"] or 0)


def _sweep_retired(spark, out_dir: str, prefix: str, live_names: DataFrame) -> int:
    """Delete this table's tars whose names left the manifest — fully
    distributed: a path-only ``binaryFile`` listing (content column never
    read) anti-joined against the live shard names, unlinked
    executor-side. No O(#files-in-out_dir) names ever sit on the driver.
    An ``isEmpty`` probe (a JVM job) comes first, so the common fresh
    export with nothing retired runs no Python unlink stage."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"{prefix}shard-*.tar")
        .load(out_dir)
        .select(F.element_at(F.split("path", "/"), -1).alias("shard_name"))
    )
    retired = listing.join(
        live_names.select("shard_name"), "shard_name", "left_anti"
    )
    if retired.isEmpty():
        return 0

    def unlink(batches):
        for pdf in batches:
            n = 0
            for name in pdf["shard_name"]:
                try:
                    os.unlink(os.path.join(out_dir, name))
                    n += 1
                except FileNotFoundError:
                    pass  # concurrent sweep already took it
            yield pd.DataFrame({"n": [n]})

    got = retired.mapInPandas(unlink, schema="n long").agg(F.sum("n")).collect()[0][0]
    return int(got or 0)


def _incremental_export(
    spark,
    t,
    mt,
    out_dir: str,
    prefix: str,
    key_col: str,
    batch_size: int,
    batches_per_shard: int,
    buckets,
    members,
    num_partitions,
    prev_id: int,
    src_id: int,
    stamps: dict,
) -> dict | None:
    """Append-only delta export: pack ONLY the new rows (plus each touched
    bucket's partial tail shard) with per-bucket shard offsets continuing
    the recorded sequence — cost ∝ delta, not corpus. Returns None when the
    incremental contract doesn't hold (non-append history, a bucket whose
    new keys don't sort after its recorded ones, or a manifest without
    packing coordinates), in which case the caller re-exports in full.
    Equivalence invariant (tested): the resulting directory + manifest are
    byte-identical to a from-scratch export of the full corpus."""
    from ..core.table import IncrementalScanError, PrunePredicate

    try:
        delta = t.incremental_scan(spark, prev_id, src_id)
    except IncrementalScanError:
        return None

    old = mt.scan(spark)
    if not {"bucket_id", "shard", "last_key"}.issubset(old.columns):
        return None  # manifest predates packing coordinates
    key_dtype = t.schema[key_col].dataType
    caster = _key_caster(key_dtype)
    if caster is None:
        return None  # key type without a safe driver-side comparator

    # per-bucket recorded state: total rows, overall last key, and the last
    # FULL shard's last key (the tail boundary) — O(#buckets) driver rows,
    # ONE manifest aggregate (null-coordinate detection and the total shard
    # count ride in the same job). A tar is full at batch_size ×
    # batches_per_shard rows; the shorter tail tar (if any) is repacked.
    rows_per_shard = int(batch_size) * int(batches_per_shard)
    totals = old.groupBy("bucket_id").agg(
        F.sum("n_items").alias("tot"),
        F.count("*").alias("n_shards"),
        F.sum(F.col("shard").isNull().cast("int")).alias("null_shards"),
        F.max_by("last_key", "shard").alias("bucket_last_key"),
    )
    full_b = (
        old.filter(F.col("n_items") == rows_per_shard)
        .groupBy("bucket_id")
        .agg(F.max_by("last_key", "shard").alias("full_boundary_key"))
    )
    stat_rows = totals.join(full_b, ["bucket_id"], "left").collect()
    if any(
        r["bucket_id"] is None or r["null_shards"] or r["bucket_last_key"] is None
        for r in stat_rows
    ):
        return None  # rows without packing coordinates: fall back to full
    stats = {int(r["bucket_id"]): r.asDict() for r in stat_rows}
    n_old_shards = sum(r["n_shards"] for r in stat_rows)

    # bucket the delta and check monotonicity per touched bucket in ONE
    # O(#buckets) aggregate: every new key must sort after the bucket's
    # recorded last key, else shard contents shift and we fall back
    delta_b = assign_aspect_buckets(delta, buckets=buckets)
    dmin_rows = (
        delta_b.groupBy("bucket_id").agg(F.min(key_col).alias("dmin")).collect()
    )
    touched = {}
    for r in dmin_rows:
        b = int(r["bucket_id"])
        st = stats.get(b)
        if st is not None and r["dmin"] <= caster(st["bucket_last_key"]):
            return None
        touched[b] = st
    if not touched:
        # replace-only range (compaction etc.): nothing moved — restamp
        mt.commit_append([], set_properties=stamps)
        return {
            "exported": 0,
            "skipped": n_old_shards,
            "swept": 0,
            "items": 0,
            "bytes": 0,
            "mode": "incremental",
        }

    # old rows still in play: each touched bucket's rows AFTER its last
    # full shard (the partial tail that new rows keep filling). File-level
    # pruning on the key column applies when every touched bucket with old
    # rows has a full boundary; otherwise scan unpruned but still filter.
    with_old = {b: st for b, st in touched.items() if st is not None}
    prunable = all(st["full_boundary_key"] is not None for st in with_old.values())
    prune = []
    if with_old and prunable:
        min_boundary = min(
            caster(st["full_boundary_key"]) for st in with_old.values()
        )
        prune = [PrunePredicate(key_col, ">", min_boundary)]
    binfo = local_df(
        spark,
        [
            (b, st["full_boundary_key"] if st else None, bool(st is None or st["full_boundary_key"] is None))
            for b, st in touched.items()
        ],
        "bucket_id int, _boundary string, _no_full boolean",
    )
    # the tail reads the PREVIOUS snapshot: the current head includes the
    # delta rows, which are already in to_pack via delta_b — scanning head
    # here would double-count every appended row. Two-phase probe so the
    # payload column is only read for tail FILES, never the corpus: (1) a
    # NARROW (key, w, h) scan — columnar-cheap, no bytes — finds the tail
    # keys (≤ #touched-buckets × rows_per_shard rows by construction); (2) a
    # full-width scan pruned to `key in tail_keys` reads only the files
    # whose bounds/Blooms admit those keys (the merge.py probe shape).
    def _tail_from(scan_df):
        return (
            assign_aspect_buckets(scan_df, buckets=buckets)
            .join(F.broadcast(binfo), "bucket_id")
            .filter(
                F.col("_no_full")
                | (F.col(key_col) > F.col("_boundary").cast(key_dtype))
            )
            .drop("_boundary", "_no_full")
        )

    narrow = t.scan(
        spark, snapshot_id=prev_id, prune=prune or None, columns=[key_col, "w", "h"]
    )
    tail_keys = [r[key_col] for r in _tail_from(narrow).select(key_col).collect()]
    if len(tail_keys) <= 100_000:
        if tail_keys:
            # file pruning takes the driver-side key list (prepared probe:
            # bisect + vectorized Bloom); the ROW filter is a broadcast
            # semi-join, not isin() — 100k literals would bloat one
            # Catalyst In-expression to a multi-MB plan
            keys_df = local_df(
                spark,
                [(k,) for k in tail_keys],
                T.StructType([T.StructField(key_col, t.schema[key_col].dataType)]),
            )
            probe = t.scan(
                spark,
                snapshot_id=prev_id,
                prune=[PrunePredicate(key_col, "in", tail_keys)],
            ).join(F.broadcast(keys_df), key_col, "left_semi")
        else:
            probe = t.scan(spark, snapshot_id=prev_id).limit(0)
        tail_rows = _tail_from(probe)
    else:
        # a tail this large means an enormous buckets x batch_size product;
        # one wide filtered pass is then the better plan
        tail_rows = _tail_from(
            t.scan(spark, snapshot_id=prev_id, prune=prune or None)
        )

    cols = delta_b.columns
    to_pack = tail_rows.select(*cols).unionByName(delta_b.select(*cols))
    # offsets in ROWS, aligned to the last full TAR boundary — divisible by
    # batch_size too, so both the batch ids and the tar indices of the
    # repacked tail continue the recorded sequence exactly
    offsets = {
        b: int(st["tot"]) - int(st["tot"]) % rows_per_shard
        for b, st in with_old.items()
    }
    packed, batch_col = _pack_named(
        to_pack,
        batch_size=batch_size,
        batches_per_shard=batches_per_shard,
        key_col=key_col,
        num_partitions=num_partitions,
        prefix=prefix,
        bucket_offsets=offsets,
    )
    new_df = export_webdataset(
        packed, out_dir, list(members), key_col=key_col, batch_col=batch_col
    )
    # ONE execution of the tar-writing plan, staged as plain parquet under
    # the manifest table's root (shared storage by construction) — the new
    # rows then participate in joins/aggregates as a side-effect-free
    # DataFrame; nothing O(#shards) touches the driver
    # no leading underscore/dot: Spark's file index treats those as hidden
    # and would silently read the staged manifest back as empty
    stage = os.path.join(mt.root, f"export-stage-{uuid.uuid4().hex}")
    new_df.write.parquet(stage)
    try:
        newly = spark.read.schema(_MANIFEST_SCHEMA).parquet(stage)
        kept = old.join(newly.select("shard_name"), "shard_name", "left_anti")
        mt.overwrite(kept.unionByName(newly), set_properties=stamps)
        stats = newly.agg(
            F.count("*").alias("n"),
            F.sum("n_items").alias("i"),
            F.sum("n_bytes").alias("b"),
        ).collect()[0]
        n_rewritten = int(
            old.join(newly.select("shard_name"), "shard_name", "left_semi").count()
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return {
        "exported": int(stats["n"] or 0),
        "skipped": n_old_shards - n_rewritten,
        "swept": 0,
        "items": int(stats["i"] or 0),
        "bytes": int(stats["b"] or 0),
        "mode": "incremental",
    }


def export_webdataset_job(
    spark,
    cat,
    table_name: str,
    out_dir: str,
    *,
    key_col: str = "image_id",
    batch_size: int = 64,
    batches_per_shard: int = 1,
    buckets: Iterable[tuple[int, int]] = DEFAULT_BUCKETS,
    members: Iterable[tuple[str, str]] = (("bytes", "@fmt"), ("caption", "txt")),
    manifest_table: str | None = None,
    num_partitions: int | None = None,
    table=None,
) -> dict:
    """Resumable training export of an engine table: aspect-bucket → pack →
    tar shards, with the shard manifest COMMITTED as an engine table
    (``<table>_export``) stamped with the source snapshot id AND a
    fingerprint of the export configuration.

    ``batches_per_shard`` groups that many consecutive same-bucket
    training batches into one tar, decoupling tar size (the WebDataset
    0.5–1 GiB convention) from the training batch size: at the 10^12-row
    design point batch_size=64 alone would mean ~10^10 tiny tars. Member
    names carry the batch id as a directory prefix when > 1, so the
    training contract (exact same-bucket batches of batch_size) is
    unchanged. Everything O(#shards) — the manifest commit, the totals in
    the returned report, the retired-tar sweep, the resume anti-join —
    runs distributed; the driver holds only per-file manifest-entry
    metadata, same as any other commit.

    Exactly-once without a transaction across the tar store and the
    catalog: shard assignment is a pure function of (snapshot, key order,
    ladder, batch_size), and each tar's bytes are deterministic, so
    re-exporting a shard is idempotent (write-then-rename republishes the
    identical file). Resume therefore only needs the manifest: shards
    already recorded for THIS (snapshot, config) are skipped (anti-join on
    shard_name); a crash after tars landed but before the manifest commit
    re-exports exactly the unrecorded shards byte-identically. If the
    source snapshot OR any packing-relevant setting (batch_size, ladder,
    members, key_col, out_dir) changed since the last export, shard
    contents may have shifted wholesale, so the job starts over: full
    re-export, manifest overwritten under the new stamps, and stale
    ``{prefix}shard-*.tar`` files from the previous run swept from out_dir
    (consumers that glob the directory must never see shards of a retired
    packing). Both stamps ride in the SAME commit as the manifest rows, so
    no crash can publish rows under stale stamps.

    Shard names are prefixed with the sanitized table identifier, so many
    tables can export into one directory without colliding. Pass ``table``
    (an already-bound Table, e.g. a branch handle) to export something
    other than the catalog's main head; the snapshot stamp is taken from
    that handle.

    Returns {exported, skipped, items, bytes, manifest_table, snapshot_id}.
    """
    from ..core.spec import TableSpec

    t = table if table is not None else cat.load_table(table_name)
    snap = t.current_snapshot()
    if snap is None:
        raise ValueError(f"{table_name} has no snapshot to export")
    src_id = int(snap.snapshot_id)
    mt_name = manifest_table or f"{table_name}_export"
    stamp_key = "export-source-snapshot-id"
    config_key = "export-config-fingerprint"
    prefix = table_name.replace(".", "_") + "-"
    config_fp = export_config_fingerprint(
        out_dir, key_col=key_col, batch_size=batch_size, buckets=buckets,
        members=members, batches_per_shard=batches_per_shard,
    )

    stamps = {stamp_key: src_id, config_key: config_fp}
    resume_names: DataFrame | None = None
    n_done = 0
    fresh_manifest = True
    if cat.table_exists(mt_name):
        mt = cat.load_table(mt_name)
        # additive schema evolution for manifests written before packing
        # coordinates existed: add the columns (metadata-only, old rows
        # null-fill on read) so the overwrite below lands the full schema;
        # the incremental path sees null coordinates and declines cleanly
        for cname, ctype in (
            ("bucket_id", T.IntegerType()),
            ("shard", T.IntegerType()),
            ("first_key", T.StringType()),
            ("last_key", T.StringType()),
        ):
            if cname not in mt.schema.fieldNames():
                mt.add_column(cname, ctype)
        same_config = mt.properties.get(config_key) == config_fp
        prev = mt.properties.get(stamp_key)
        if same_config and prev == str(src_id):
            # resume: shards already recorded for THIS (snapshot, config)
            # skip via a distributed anti-join — no shard-name set on the
            # driver; the skipped count comes from manifest-entry footers
            # (metadata only, no job)
            fresh_manifest = False
            resume_names = mt.scan(spark, columns=["shard_name"])
            n_done = sum(e.record_count for e in mt.live_entries())
        elif same_config and prev is not None:
            # the source moved but the config didn't: try the delta path —
            # pack only appended rows (+ each touched bucket's partial tail
            # shard) with continuing shard offsets. Falls back to the full
            # re-export below on any contract violation.
            inc = _incremental_export(
                spark, t, mt, out_dir, prefix, key_col, batch_size,
                batches_per_shard, buckets, members, num_partitions,
                int(prev), src_id, stamps,
            )
            if inc is not None:
                inc["manifest_table"] = mt_name
                inc["snapshot_id"] = src_id
                return inc

    packed, batch_col = _pack_named(
        assign_aspect_buckets(t.scan(spark), buckets=buckets),
        batch_size=batch_size,
        batches_per_shard=batches_per_shard,
        key_col=key_col,
        num_partitions=num_partitions,
        prefix=prefix,
    )
    if resume_names is not None:
        packed = packed.join(
            resume_names.withColumnRenamed("shard_name", "_shard_name"),
            "_shard_name",
            "left_anti",
        )

    manifest = export_webdataset(
        packed, out_dir, list(members), key_col=key_col, batch_col=batch_col
    )
    if not cat.table_exists(mt_name):
        cat.create_table(mt_name, _MANIFEST_SCHEMA, TableSpec())
    mt = cat.load_table(mt_name)
    # ONE execution of the tar-writing plan: the manifest rows land as the
    # manifest table's own data files (executor-side, with footer stats);
    # the driver sees per-FILE entries only, never per-shard rows
    entries = mt.write_data_files(manifest)
    for e in [e for e in entries if e.record_count == 0]:
        # an empty export writes empty part files — drop them pre-commit
        entries.remove(e)
        try:
            os.unlink(os.path.join(mt.root, e.path))
        except FileNotFoundError:
            pass
    n_exported = sum(e.record_count for e in entries)
    items, n_bytes = _entry_totals(spark, mt, entries)
    if fresh_manifest:
        # always overwrite on a stamp change — an empty export must still
        # retire a stale manifest, not leave it published under a new head
        mt.commit_overwrite(entries, set_properties=stamps)
        # sweep THIS table's tars from retired packings: shard names are a
        # pure function of (bucket, tar index), so a shrunken export
        # leaves valid-looking high-numbered tars behind otherwise — and
        # directory-globbing consumers would train on retired data
        swept = _sweep_retired(
            spark, out_dir, prefix, mt.refresh().scan(spark, columns=["shard_name"])
        )
    elif entries:
        mt.commit_append(entries, set_properties=stamps)
        swept = 0
    else:
        swept = 0
    return {
        "exported": n_exported,
        "skipped": n_done,
        "swept": swept,
        "items": items,
        "bytes": n_bytes,
        "manifest_table": mt_name,
        "snapshot_id": src_id,
    }
