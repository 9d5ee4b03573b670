"""Delete vectors: the one module that knows the positional-delete format.

A delete vector (DV) is a parquet file of ``(path, pos)`` rows sorted by
``(path, pos)``, kept under ``data/_deletes/``: ``path`` is a data file's
path relative to the table root and ``pos`` a row index inside that file
(Iceberg v2 positional deletes). Manifest entries list the DVs that apply
to a file in ``deletes``; a file's live rows are its rows minus every
position those DVs name for it. The sort gives every reader row-group
pushdown on ``path``, so a DV shared by many data files stays cheap to
read for one of them.

Arrow side (driver and task code):
  :func:`positions`             one file's tombstones, path pushdown
  :func:`apply_delete_vectors`  a file's full row set minus its tombstones
  :func:`probe`                 the one key probe: each file's live rows
                                whose key is in a key set (MERGE, delete_keys
                                and the merge-keys writer)
  :func:`read` / :func:`write`  whole DVs in, one sorted DV out
  :func:`write_fragment`        one probe task's hits as one DV fragment
  :func:`consolidate`           task fragments into the one DV a commit lands

Spark side: a scan names a row by ``(_fp, _pos)``, Spark's
``_metadata.file_path`` URI and ``_metadata.row_index``.
  :func:`uri`           a data file's ``_fp``: the one path encoder
  :func:`scan`          the one ``_metadata`` projection of data files
  :func:`frame`         DV rows as ``(_fp, _pos)``, broadcast when small
  :func:`live`          rows of a scan that no DV of theirs tombstones
  :func:`write_groups`  the staged, sorted write of one DV per group
  :func:`write_hits`    its single-group case for new tombstones
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from typing import Iterable, Iterator, Sequence
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import manifests as mf

SUBDIR = os.path.join("data", "_deletes")
ARROW_SCHEMA = pa.schema([("path", pa.string()), ("pos", pa.int64())])
# reads pass the schema explicitly so no footer-inference job runs per read
SCHEMA = "path string, pos long"
FP, POS = "_fp", "_pos"
# what :func:`probe` counts: files it read, and files it skipped on bounds
# or Bloom evidence alone
PROBE_STATS = ("files_read", "skipped_by_bounds", "skipped_by_bloom")

# DV sides of a join are broadcast only below this on-disk size; the
# 10^12-row design point can accumulate GB-scale DV sets between
# compactions, which must shuffle-join instead of landing on every executor
DV_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

# path-list reads build a driver-side file index; cap how many paths a single
# reader sees so very large scans grow the index in bounded steps
SCAN_READ_BATCH = 100_000


def _new_file(root: str) -> tuple[str, str]:
    """(abs, rel) path of a fresh DV file under the table's DV directory."""
    rel = os.path.join(SUBDIR, f"dv-{uuid.uuid4().hex[:12]}.parquet")
    os.makedirs(os.path.join(root, SUBDIR), exist_ok=True)
    return os.path.join(root, rel), rel


def _path_counts(chunks: Iterable[pa.Array]) -> dict[str, int]:
    """Tombstones per data file, from the chunks of a ``path`` column."""
    counts: dict[str, int] = {}
    for chunk in chunks:
        for v in chunk.value_counts().to_pylist():
            counts[v["values"]] = counts.get(v["values"], 0) + int(v["counts"])
    return counts


# ---- Arrow side -------------------------------------------------------------


def positions(rel: str, dv_abs_paths: Sequence[str]) -> np.ndarray:
    """Sorted, unique int64 tombstone positions of data file ``rel`` across
    the DV files ``dv_abs_paths``; each read pushes ``path == rel`` down to
    the row groups."""
    parts = [
        pq.read_table(p, filters=[("path", "=", rel)], columns=["pos"])["pos"]
        .to_numpy(zero_copy_only=False)
        for p in dv_abs_paths
    ]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def apply_delete_vectors(tbl: pa.Table, rel_path: str, dv_abs_paths: list[str]) -> pa.Table:
    """Drop the positions listed for ``rel_path`` in the given DV files.
    ``tbl`` must be the file's FULL row set in file order — positions index
    physical rows. Duplicate positions (two delete commits hitting the same
    row) mask idempotently."""
    pos = positions(rel_path, dv_abs_paths)
    if not len(pos):
        return tbl
    mask = np.ones(tbl.num_rows, dtype=bool)
    mask[pos] = False
    return tbl.filter(pa.array(mask))


def read(dv_abs_paths: Sequence[str]) -> pa.Table:
    """Every ``(path, pos)`` row of the given DV files, in file order."""
    return pa.concat_tables(
        [pq.read_table(p, columns=["path", "pos"]).cast(ARROW_SCHEMA) for p in dv_abs_paths]
    )


def write(root: str, paths, pos) -> tuple[str, dict[str, int]]:
    """Write the tombstones ``(paths[i], pos[i])`` as one new DV under
    ``root``: sorted by (path, pos), duplicates dropped. Returns the DV's
    root-relative path and its per-data-file tombstone counts."""
    t = pa.table({"path": paths, "pos": pos}).cast(ARROW_SCHEMA)
    t = t.group_by(["path", "pos"], use_threads=False).aggregate([])
    t = t.sort_by([("path", "ascending"), ("pos", "ascending")])
    dest, rel = _new_file(root)
    pq.write_table(t, dest)
    return rel, _path_counts(t["path"].chunks)


def probe(
    root: str, entries: Iterable[mf.ManifestEntry], keys, arrow_schema, stats: dict
) -> Iterator[tuple[mf.ManifestEntry, np.ndarray]]:
    """The one key probe: ``(entry, positions)`` for every entry whose file
    holds a live row with its key in ``keys`` (a prepared ``in``
    :class:`~.table.PrunePredicate` on the key column), the positions
    sorted. Prunes in cost order, counting into ``stats``: (1) the manifest
    key bounds (``skipped_by_bounds``), (2) the manifest Bloom filter
    (``skipped_by_bloom``; absence = might-contain), then (3) reads the key
    column alone (``files_read``; null-filled when the file predates the
    column) and (4) leaves out the positions the entry's DVs already
    tombstone."""
    import pyarrow.compute as pc

    from .table import _bounds_overlap

    key = keys.column
    value_set = pa.array(
        [k for k in keys.value if k is not None], type=arrow_schema.field(key).type
    )
    for e in entries:
        if not _bounds_overlap(keys, e.lower_bounds.get(key), e.upper_bounds.get(key)):
            stats["skipped_by_bounds"] += 1
            continue
        if not mf.bloom_any_contains(e.blooms.get(key), keys.key_hashes):
            stats["skipped_by_bloom"] += 1
            continue
        stats["files_read"] += 1
        col = mf.read_table_nullfill(os.path.join(root, e.path), arrow_schema, columns=[key])[key]
        hit = np.flatnonzero(
            pc.is_in(col, value_set=value_set).fill_null(False).to_numpy(zero_copy_only=False)
        )
        if e.deletes and len(hit):
            dead = positions(e.path, [os.path.join(root, d["path"]) for d in e.deletes])
            hit = np.setdiff1d(hit, dead, assume_unique=True)
        if len(hit):
            yield e, hit


def write_fragment(root: str, hits: Sequence[tuple[mf.ManifestEntry, np.ndarray]]) -> str | None:
    """Write :func:`probe` hits as one DV fragment; its root-relative path,
    or None when there are no hits."""
    if not hits:
        return None
    paths = [e.path for e, pos in hits for _ in range(len(pos))]
    return write(root, paths, np.concatenate([pos for _, pos in hits]))[0]


def consolidate(root: str, fragments: Sequence[str]) -> tuple[str | None, dict[str, int]]:
    """Merge the DV fragments ``fragments`` (root-relative) into one DV, so
    a commit lands one DV however many tasks probed. Returns its
    root-relative path and per-file counts, or (None, {}) when there are
    no fragments. The fragments are removed either way. Raises ValueError
    when two fragments tombstone the same row: two source rows matched one
    target row."""
    if not fragments:
        return None, {}
    abs_paths = [os.path.join(root, f) for f in fragments]
    try:
        hits = read(abs_paths)
        rel, counts = write(root, hits["path"], hits["pos"])
    finally:
        for p in abs_paths:
            try:
                os.unlink(p)
            except OSError:
                pass
    if sum(counts.values()) != hits.num_rows:
        os.unlink(os.path.join(root, rel))
        raise ValueError("several source rows matched one target row")
    return rel, counts


# ---- Spark side -------------------------------------------------------------


# Spark's _metadata.file_path is Hadoop's Path.toUri, built by java.net.URI:
# a path keeps ASCII letters, digits, "-_.!~*'(),;:$&+=/@" and non-ASCII
# characters other than controls and space separators; every other
# character is percent-encoded as its UTF-8 bytes ("%" itself included)
_URI_ESCAPED = re.compile(
    r"[^A-Za-z0-9\-_.!~*'(),;:$&+=/@\u00a0-\U0010ffff]"
    r"|[\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)


def _quote(path: str) -> str:
    return _URI_ESCAPED.sub(lambda m: quote(m.group(), safe=""), path)


def uri(root: str, rel: str) -> str:
    """The ``_fp`` of data file ``rel`` under ``root``: its ``file:`` URI,
    spelled exactly as Spark's ``_metadata.file_path``."""
    return "file:" + _quote(os.path.join(root, rel))


def _uri_col(root: str, rel: Column, data_paths: Iterable[str]) -> Column:
    """:func:`uri` as a Spark column over root-relative paths ``rel``, all
    among ``data_paths``: only the characters those paths hold that the
    encoder escapes are replaced (``%`` first), so a plain table pays a
    prefix concat alone."""
    chars = sorted(set(_URI_ESCAPED.findall("".join(data_paths))), key=lambda c: (c != "%", c))
    for c in chars:
        rel = F.replace(rel, F.lit(c), F.lit(_quote(c)))
    return F.concat(F.lit(uri(root, "")), rel)


def scan(
    spark: SparkSession,
    root: str,
    schema: T.StructType,
    rel_paths: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """``(_fp, _pos, *cols)`` rows of the data files ``rel_paths``. One
    reader per ``SCAN_READ_BATCH`` paths, unioned, so Spark's file index
    grows in bounded steps (``_metadata`` must be projected per reader: a
    union does not carry it)."""
    out: DataFrame | None = None
    for i in range(0, len(rel_paths), SCAN_READ_BATCH):
        part = (
            spark.read.schema(schema)
            .parquet(*[os.path.join(root, p) for p in rel_paths[i : i + SCAN_READ_BATCH]])
            .select(
                F.col("_metadata.file_path").alias(FP),
                F.col("_metadata.row_index").alias(POS),
                *cols,
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def rows(spark: SparkSession, root: str, dv_rel: Sequence[str]) -> DataFrame:
    """The ``(path, pos)`` rows of the DV files ``dv_rel`` as a Spark read."""
    return spark.read.schema(SCHEMA).parquet(*[os.path.join(root, p) for p in dv_rel])


def frame(
    spark: SparkSession, root: str, dv_rel: Sequence[str], data_paths: Iterable[str]
) -> DataFrame:
    """Tombstones of the DV files ``dv_rel`` for the data files
    ``data_paths`` as ``(_fp, _pos)``, ready to join a :func:`scan`: the
    small DV side is encoded, no data row's ``_fp`` is decoded.

    Broadcast by estimated BYTES, not row count: 5M rows of long paths
    is a multi-hundred-MB payload shipped to every executor. The DV
    parquet footprint on disk is a cheap, conservative proxy (in-memory
    rows inflate ~2-4×, so 64 MB on disk stays well under executor
    broadcast budgets); above it, AQE picks the shuffle-join strategy.
    An unknown file size forces the shuffle route outright (a cap-sized
    increment would still pass the <= check when it is the only DV file).
    """
    dv = rows(spark, root, dv_rel).select(
        _uri_col(root, F.col("path"), data_paths).alias(FP), F.col("pos").alias(POS)
    )
    dv_bytes = 0
    for p in dv_rel:
        try:
            dv_bytes += os.path.getsize(os.path.join(root, p))
        except OSError:
            dv_bytes += DV_BROADCAST_MAX_BYTES + 1
    if dv_bytes <= DV_BROADCAST_MAX_BYTES:
        dv = F.broadcast(dv)
    return dv


def live(spark: SparkSession, root: str, df: DataFrame, entries) -> DataFrame:
    """Rows of ``df`` (a :func:`scan` of ``entries``' files, or rows
    derived from it) that no DV of those manifest entries tombstones."""
    dv_rel = sorted({d["path"] for e in entries for d in e.deletes})
    if not dv_rel:
        return df
    return df.join(frame(spark, root, dv_rel, (e.path for e in entries)), [FP, POS], "left_anti")


def write_groups(
    root: str, stage: str, tombstones: DataFrame, n_groups: int
) -> dict[int, tuple[str, dict[str, int]]]:
    """Publish ``(grp, path, pos)`` rows, ``grp`` in ``range(n_groups)``, as
    one (path, pos)-sorted DV per group. ``tombstones`` must hold each
    group inside one partition (the caller coalesces or repartitions by
    ``grp``). One Spark write goes into the staging dir ``stage`` (removed
    afterwards), then each group's single part file is renamed into the DV
    directory. Returns ``{grp: (rel DV path, per-file counts)}`` for the
    groups that hold rows; the counts are read back from the written file,
    so the plan never executes twice."""
    out_dir = os.path.join(stage, "dv")
    written: dict[int, tuple[str, dict[str, int]]] = {}
    try:
        (
            tombstones.sortWithinPartitions("grp", "path", "pos")
            .write.partitionBy("grp")
            .mode("overwrite")
            .parquet(out_dir)
        )
        for gid in range(n_groups):
            files = glob.glob(os.path.join(out_dir, f"grp={gid}", "*.parquet"))
            if not files:
                continue
            if len(files) != 1:
                raise RuntimeError(f"expected one DV file for group {gid}, got {len(files)}")
            # batch by batch: memory bounded by one batch of the group file
            batches = pq.ParquetFile(files[0]).iter_batches(columns=["path"])
            counts = _path_counts(b.column(0) for b in batches)
            dest, dv_rel = _new_file(root)
            os.rename(files[0], dest)
            written[gid] = (dv_rel, counts)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return written


def write_hits(
    spark: SparkSession, root: str, stage: str, hits: DataFrame, entries
) -> tuple[str | None, dict[str, int]]:
    """Publish ``(_fp, _pos)`` hit rows of ``entries``' files as ONE new
    DV, leaving out positions their DVs already list — so a repeated
    delete is a no-op and per-file live counts never double-count.
    Returns (rel DV path, per-file counts), or (None, {}) when nothing is
    left."""
    # uri's inverse, on hit rows alone: Java's URL decoder reads a kept "+"
    # as a space, so "+" is escaped first
    n = len("file:" + os.path.join(root, ""))
    rel = F.expr(f"substring(url_decode(replace({FP}, '+', '%2B')), {n + 1})")
    hits = live(spark, root, hits, entries).select(
        F.lit(0).alias("grp"), rel.alias("path"), F.col(POS).alias("pos")
    )
    return write_groups(root, stage, hits.coalesce(1), 1).get(0, (None, {}))
