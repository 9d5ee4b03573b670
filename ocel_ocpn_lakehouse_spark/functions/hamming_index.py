"""Persisted Hamming-LSH index: near-dup probes that PRUNE, not scan.

`hamming_pairs` (functions/dedup.py) answers "which pairs inside THIS
DataFrame are near-dups" with one self-join. The complementary question a
growing image corpus asks on every ingest — "which of these new rows are
near-dups of ANYTHING already in the 10^12-image table" — must not rescan
the corpus per batch. This module persists the banded relation as an
ENGINE TABLE partitioned by one combined (block, bucket(key)) cell:

  index rows : one (id, fp, block, key) row per fingerprint per pigeonhole
               block — the same layout `band_layout` gives the pair join,
               so a probe at the indexed radius keeps recall 1.
  probe      : batch fingerprints band identically; the distinct
               (block, key-bucket) partitions they hash into (≤ batch ×
               blocks values, usually far fewer) become PrunePredicates,
               so the manifest hands Spark only the files a band key can
               possibly live in; the equi-join on (block, key) + the
               bit_count(xor) verify finish exactly as the self-join does.
  freshness  : the source snapshot id rides IN every index commit
               (`hamming-source-snapshot-id`), `hamming_index_refresh`
               catches up through the source's incremental CDC scan, and a
               non-append-only source range rebuilds — the same M7 pattern
               as the IVF index (functions/similarity.py:415-525).

Index cost is the standard banded-LSH tradeoff: `blocks` (= max_dist+1 by
default) narrow rows per corpus row, ~25-40 B each before parquet
dictionary/delta encoding — paid once, amortized over every ingest batch
that then reads only its buckets instead of the corpus.

Composes with the text side's incremental dedup (dedup.dedup_incremental
is the exact-fp analogue): `batch_neardup_filter` drops batch rows within
``max_dist`` of any indexed corpus row, then collapses in-batch near-dup
groups with the survivor policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.spec import PartitionField, PartitionSpec, TableSpec
from ..core.table import PrunePredicate, Table, entry_matches, prepare_predicates
from .dedup import band_layout, banded_fingerprints, hamming_pairs, near_dup_losers

STAMP = "hamming-source-snapshot-id"


def _banded(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    max_dist: int,
    nbits: int,
    blocks: int,
    key_buckets: int,
):
    """Banded rows plus the combined partition cell. One cell per
    (block, bucket-of-key) pair — a SINGLE identity-partitioned column, so
    probes prune exactly the pairs they touch (two separate partition
    predicates would only prune their cross product: any batch touching k
    buckets in block 0 would un-prune those buckets in every block)."""
    cell = (
        F.col("block") * F.lit(key_buckets)
        + F.pmod(F.xxhash64("key"), F.lit(key_buckets))
    ).cast("int")
    return banded_fingerprints(df, id_col, fp_col, max_dist, nbits, blocks).select(
        F.col("_hid").alias(id_col),
        F.col("_hfp").alias("fp"),
        "block",
        "key",
        cell.alias("pcell"),
    )


def hamming_index_table(
    spark: SparkSession,
    catalog,
    name: str,
    source_table: Table,
    fp_col: str = "phash",
    id_col: str = "image_id",
    max_dist: int = 6,
    nbits: int = 64,
    blocks: int | None = None,
    key_buckets: int | None = None,
    cell_target_bytes: int = 64 * 1024 * 1024,
) -> Table:
    """Build and commit the index table for ``source_table``'s current
    snapshot. The source scan projects only (id, fp) — image bytes never
    enter the index build.

    ``key_buckets`` defaults to the FILE-SIZED geometry: each (block,
    bucket) cell holds ≈``cell_target_bytes`` of index rows (row ≈ 32 B
    before encoding), sized from the source's manifest footer row counts
    (zero Spark jobs). Cells at file size are what make probe cost track
    the batch at design scale: a 10^12-row corpus gets ~500k buckets and a
    10k-image batch touches ≤ batch × blocks of them; a small corpus
    honestly gets few buckets (below one file of index rows per block
    there is nothing left to prune). Pass ``key_buckets`` explicitly to
    trade smaller cells (stronger pruning) for more, smaller files."""
    layout = band_layout(max_dist, nbits, blocks)  # validates the banding
    blocks = len(layout)
    # a block of width w has only 2^w distinct keys, so buckets beyond
    # that are guaranteed-empty partitions; this cap is also the honest
    # pruning ceiling of the structure — at d=6 over 64 bits the 7 blocks
    # are 9-10 bits wide, so ~7k cells total: probes prune hard for
    # micro-batch ingest (hundreds of rows), and degrade gracefully to
    # the banded join for bulk batches (use hamming_pairs for those)
    cap = 1 << min(w for _, w in layout)
    if key_buckets is None:
        n_rows = sum(e.record_count for e in source_table.live_entries())
        key_buckets = max(1, round(n_rows * 32 / cell_target_bytes))
    key_buckets = min(key_buckets, cap)
    corpus = source_table.scan(spark, columns=[id_col, fp_col])
    df = _banded(corpus, id_col, fp_col, max_dist, nbits, blocks, key_buckets)
    t = catalog.create_table(
        name,
        df.schema,
        TableSpec(
            partition_spec=PartitionSpec(
                (PartitionField("pcell", "identity", "pcell"),)
            ),
            properties={
                "hamming.max-dist": str(max_dist),
                "hamming.nbits": str(nbits),
                "hamming.blocks": str(blocks),
                "hamming.key-buckets": str(key_buckets),
                "hamming.fp-col": fp_col,
                "hamming.id-col": id_col,
            },
        ),
    )
    src = source_table.current_snapshot()
    # hash distribution: co-locate each pcell in one task → one file per
    # cell per append (without it, every input partition writes a sliver
    # of every cell: #partitions × #cells tiny files)
    t.append(
        df,
        num_files=spark.sparkContext.defaultParallelism,
        distribution="hash",
        extra_summary={STAMP: int(src.snapshot_id)} if src else None,
    )
    return t


def _props(index_table: Table) -> dict:
    p = index_table.md.properties
    return {
        "max_dist": int(p["hamming.max-dist"]),
        "nbits": int(p["hamming.nbits"]),
        "blocks": int(p["hamming.blocks"]),
        "key_buckets": int(p["hamming.key-buckets"]),
        "fp_col": p["hamming.fp-col"],
        "id_col": p["hamming.id-col"],
    }


def hamming_index_is_stale(index_table: Table, source_table: Table) -> bool:
    from ..core.refresh import derived_is_stale

    return derived_is_stale(index_table, source_table, STAMP)


def hamming_index_refresh(spark: SparkSession, index_table: Table, source_table: Table) -> dict:
    """Catch the index up to its source via the shared freshness-stamped
    machine (core/refresh.py): appends arrive through the incremental scan
    (cost ∝ delta, banding the delta only); anything else rebuilds. The
    stamp rides IN the data commit — no double-append on rerun."""
    from ..core.refresh import refresh_derived

    cfg = _props(index_table)

    def banded(s, df):
        return _banded(
            df,
            cfg["id_col"],
            cfg["fp_col"],
            cfg["max_dist"],
            cfg["nbits"],
            cfg["blocks"],
            cfg["key_buckets"],
        )

    n_files = spark.sparkContext.defaultParallelism
    r = refresh_derived(
        spark,
        index_table,
        source_table,
        STAMP,
        banded,
        append_delta=True,
        scan_columns=[cfg["id_col"], cfg["fp_col"]],
        append_kwargs={"num_files": n_files, "distribution": "hash"},
        overwrite_kwargs={"num_files": n_files},
    )
    r["rows_indexed"] = r.pop("rows")
    return r


def hamming_probe_indexed(
    spark: SparkSession,
    index_table: Table,
    batch: DataFrame,
    fp_col: str | None = None,
    id_col: str | None = None,
    max_dist: int | None = None,
    with_stats: bool = True,
) -> dict:
    """Exact near-dup pairs between ``batch`` and the indexed corpus:
    (batch_id, corpus_id, dist) with dist ≤ max_dist — recall 1 at any
    radius up to the indexed one (a larger radius would break the
    pigeonhole guarantee and raises).

    Returns {"pairs": DataFrame, "files_scanned"/"files_total",
    "bytes_scanned"/"bytes_total"} so callers (and tests) can see the
    manifest pruning working in both file and byte terms. The prune
    set is EXACTLY the (block, key-bucket) cells the batch's band keys hash
    into — one identity-partitioned ``pcell`` column, never a cross
    product.

    ``with_stats`` is a DIAGNOSTIC: it replays the pruning verdict on
    driver-materialized entries, which is O(#index files) driver work —
    exactly what ``scan``'s distributed planner avoids above its entry
    threshold. Hot ingest paths (``batch_neardup_filter``, streaming)
    pass ``with_stats=False`` and pay only the scan's own (possibly
    distributed) planning; the stats fields are then None."""
    cfg = _props(index_table)
    if max_dist is None:
        max_dist = cfg["max_dist"]
    if max_dist > cfg["max_dist"]:
        raise ValueError(
            f"probe max_dist={max_dist} exceeds indexed radius {cfg['max_dist']}: "
            "pairs beyond the indexed banding would be silently lost — rebuild the "
            "index at the larger radius instead"
        )
    bid, bfp = id_col or cfg["id_col"], fp_col or cfg["fp_col"]
    bands = _banded(
        batch, bid, bfp, cfg["max_dist"], cfg["nbits"], cfg["blocks"], cfg["key_buckets"]
    ).select(
        F.col(bid).alias("batch_id"), F.col("fp").alias("batch_fp"), "block", "key", "pcell"
    )
    # distinct probe cells: bounded by blocks × key_buckets regardless of
    # batch size, so this collect is metadata-sized by construction
    cells = sorted(
        int(r["pcell"]) for r in bands.select("pcell").distinct().collect()
    )
    prune = [PrunePredicate("_p_pcell", "in", cells)]
    files_total = files_scanned = bytes_total = bytes_scanned = None
    if with_stats:
        prepared = prepare_predicates(prune)
        entries = index_table.live_entries()
        matched = [e for e in entries if entry_matches(e, prepared)]
        files_total, files_scanned = len(entries), len(matched)
        bytes_total = sum(e.size_bytes for e in entries)
        bytes_scanned = sum(e.size_bytes for e in matched)
    scan = index_table.scan(spark, prune=prune)
    pairs = (
        bands.join(scan, ["block", "key"])
        .withColumn(
            "dist", F.bit_count(F.col("batch_fp").bitwiseXOR(F.col("fp"))).cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .select("batch_id", F.col(cfg["id_col"]).alias("corpus_id"), "dist")
        .distinct()
    )
    return {
        "pairs": pairs,
        "files_scanned": files_scanned,
        "files_total": files_total,
        "bytes_scanned": bytes_scanned,
        "bytes_total": bytes_total,
    }


def batch_neardup_filter(
    spark: SparkSession,
    index_table: Table,
    batch: DataFrame,
    quality_col: str | None = None,
    max_dist: int | None = None,
) -> DataFrame:
    """The ingest-side composition: drop batch rows within ``max_dist`` of
    any indexed corpus row (including replayed ids — a row re-ingested is
    its own dist-0 corpus match, so replays converge like
    dedup_incremental's exact-fp path), then collapse in-batch near-dup
    groups to one survivor (quality-ranked when ``quality_col`` is given).
    Returns the surviving batch rows, ready to append + index-refresh."""
    cfg = _props(index_table)
    bid, bfp = cfg["id_col"], cfg["fp_col"]
    # `max_dist or ...` would swallow an explicit 0 (exact-dup-only mode)
    # and collapse merely-similar batch rows at the indexed radius
    if max_dist is None:
        max_dist = cfg["max_dist"]
    dup_ids = (
        hamming_probe_indexed(
            spark, index_table, batch, max_dist=max_dist, with_stats=False
        )["pairs"]
        .select(F.col("batch_id").alias(bid))
        .distinct()
    )
    fresh = batch.join(dup_ids, bid, "left_anti")
    # persist: `fresh` (batch anti-joined against the index probe, index
    # scan included) feeds the in-batch pair self-join AND the survivor
    # anti-join — uncached each consumer replays the whole probe subtree.
    # Eager op boundary: callers append the result right away, so the
    # caller materializes before this function's relation goes stale;
    # scoped release keeps one pinned relation per session.
    from ..core.cachereg import scoped_cache

    fresh = scoped_cache(fresh, "hamming-batch-fresh")
    pairs = hamming_pairs(
        fresh, id_col=bid, fp_col=bfp, max_dist=max_dist, nbits=cfg["nbits"]
    )
    losers = near_dup_losers(fresh, pairs, id_col=bid, quality_col=quality_col)
    return fresh.join(losers, bid, "left_anti")
