"""Exactly-once streaming append into an engine table.

``foreachBatch`` may replay a batch after a crash (Structured Streaming
guarantees at-least-once delivery to the sink); idempotence comes from
recording the stream epoch id in the snapshot summary and skipping
epochs that already committed — the same guard the maintenance engine
uses for file groups (north rule: resume without re-committing
snapshots).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..core.local import local_df
from ..core.table import PrunePredicate, Table


def _max_epoch_prop(stream_id: str) -> str:
    return f"stream.{stream_id}.max-epoch"


def _committed_epochs(table: Table, stream_id: str) -> set[int]:
    """Fallback epoch index: walk snapshot summaries. Only consulted when
    the max-epoch property is absent or behind (tables written before the
    property existed) — it cannot see epochs whose snapshots EXPIRED, and
    it re-walks every retained snapshot per batch, which is why the
    property is the primary guard."""
    out = set()
    for s in table.snapshots():
        if s.summary.get("stream-id") == stream_id and "stream-epoch" in s.summary:
            out.add(int(s.summary["stream-epoch"]))
    return out


def _epoch_committed(table: Table, stream_id: str, epoch_id: int) -> bool:
    """Primary guard: the per-stream max committed epoch rides in table
    PROPERTIES, updated atomically with each batch's snapshot — one field
    in the metadata the batch already refreshed (no per-snapshot walk) and,
    unlike summaries, it survives snapshot expiry. foreachBatch delivers
    epochs in increasing order per checkpoint, so max is a complete
    record. Once present the property is authoritative — epochs arrive in
    order, so max-epoch subsumes all earlier history and the walk never
    runs again; only a pre-property table pays the one-time fallback."""
    mx = table.properties.get(_max_epoch_prop(stream_id))
    if mx is not None:
        return epoch_id <= int(mx)
    return epoch_id in _committed_epochs(table, stream_id)


def _drain_exactly_once(
    spark: SparkSession,
    table: Table,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    stream_id: str,
    max_files_per_trigger: int | None,
    apply_batch,
) -> int:
    """Shared exactly-once scaffold: readStream → foreachBatch with the
    epoch guard → availableNow drain. ``apply_batch(batch_df, epoch_id)``
    must COMMIT the batch with the stream-id/epoch markers riding in the
    snapshot summary AND ``set_properties=epoch_properties(...)`` so the
    max-epoch guard advances atomically with the rows. Returns the number
    of batches committed this run."""
    committed = {"n": 0}

    def sink(batch_df, epoch_id: int) -> None:
        table.refresh()
        if _epoch_committed(table, stream_id, int(epoch_id)):
            return  # replayed batch after restart — already committed
        if batch_df.isEmpty():
            return
        apply_batch(batch_df, int(epoch_id))
        committed["n"] += 1

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return committed["n"]


def stream_append(
    spark: SparkSession,
    table: Table,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    stream_id: str = "default",
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain all available files from source_dir into the table
    (trigger=availableNow), one snapshot per micro-batch, exactly-once.
    Returns the number of batches committed this run."""

    def apply_batch(batch_df, epoch_id: int) -> None:
        entries = table.write_data_files(batch_df)
        table.commit_append(
            entries,
            extra_summary={"stream-id": stream_id, "stream-epoch": epoch_id},
            set_properties={_max_epoch_prop(stream_id): epoch_id},
        )

    return _drain_exactly_once(
        spark, table, source_dir, schema, checkpoint_dir, stream_id,
        max_files_per_trigger, apply_batch,
    )


def stream_upserts(
    spark: SparkSession,
    table: Table,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    key: str = "image_id",
    op_col: str = "_op",
    stream_id: str = "cdc",
    strategy: str = "mor",
    max_files_per_trigger: int | None = None,
) -> int:
    """Streaming CDC apply: every micro-batch is a MERGE INTO (rows carry
    ``op_col ∈ {'upsert','delete'}``), exactly-once via the same epoch
    guard as :func:`stream_append` — the stream epoch rides INSIDE the
    merge's snapshot summary, so the marker and the row changes commit
    atomically and a replayed batch is skipped whole.

    Default ``strategy='mor'`` is the CDC shape at warehouse scale: a
    stream lands thousands of point-ish merges per day, and copy-on-write
    would rewrite touched data files every batch; merge-on-read commits
    one delete-vector + the upsert files per batch (zero rewrite), and
    routine compaction absorbs the accumulated tombstones (health's
    dead-row ratio says when). Returns the number of merges committed."""
    from ..maintenance.merge import merge_into

    def apply_batch(batch_df, epoch_id: int) -> None:
        merge_into(
            spark,
            table,
            batch_df,
            key=key,
            op_col=op_col,
            strategy=strategy,
            extra_summary={"stream-id": stream_id, "stream-epoch": epoch_id},
            set_properties={_max_epoch_prop(stream_id): epoch_id},
        )

    return _drain_exactly_once(
        spark, table, source_dir, schema, checkpoint_dir, stream_id,
        max_files_per_trigger, apply_batch,
    )


def stream_dedup_ingest(
    spark: SparkSession,
    table: Table,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_id: str = "dedup-ingest",
    max_files_per_trigger: int | None = None,
    transform=None,
) -> int:
    """Streaming DEDUPLICATED ingest: each micro-batch lands only
    fingerprint-new documents (functions/dedup.py dedup_incremental —
    in-batch min-id survivor, then anti-join against the corpus), with
    the SAME exactly-once epoch guard as stream_append.

    The seen-set IS the corpus table: accepted rows persist their ``fp``
    column, so the anti-join side is a scan of the table's fp column and
    the rows + the seen-set update are ONE atomic snapshot — there is no
    second bookkeeping table to drift from the data (a separate
    seen-table would need a cross-table transaction the format doesn't
    have).

    The seen-set probe is manifest-PRUNED, not a corpus scan: the batch's
    distinct fingerprints (bounded by the micro-batch, the one thing a
    streaming driver may hold) become a ``PrunePredicate('fp','in',...)``
    so only files whose Bloom filter / bounds might contain a batch fp
    are read — per-batch cost ∝ batch × touched files, not corpus. Set
    'write.bloom-columns: fp' on the table (fps are uniform md5, so
    bounds alone never prune); without it every file conservatively
    survives and the probe degrades to the full fp-column scan.
    Correctness does not depend on the pruning: dropping a file is only
    allowed when it provably holds NO batch fp (Bloom false positives
    ADD files, never remove), so the anti-join sees every fp it could
    match. Replay is doubly safe: the epoch guard skips committed
    batches, and even a forced re-run finds every fingerprint present.

    ``transform`` (optional, DataFrame -> DataFrame) runs on each batch
    BEFORE fingerprinting — the curation hook (scrub.curation_transform
    builds the standard quality-gate + PII-scrub + repetition-filter
    pipeline). It must preserve the source schema's columns; rows it
    drops never reach dedup, and text it rewrites is fingerprinted (and
    persisted) in its scrubbed form, so the corpus seen-set is the
    canonical post-curation identity. Determinism matters for replay:
    with a deterministic transform a replayed batch re-derives the same
    fps and the epoch guard + fp anti-join stay doubly safe."""
    from ..functions.dedup import batch_fingerprint, dedup_incremental

    out_cols = schema.fieldNames() + ["fp"]

    def apply_batch(batch_df, epoch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        batch_fp = batch_df.withColumn("fp", batch_fingerprint(text_col, id_col))
        # persist: the fp column feeds three consumers (the collected probe
        # set, the in-batch survivor groupBy, the anti-join) — one md5 pass
        batch_fp.persist()
        try:
            if table.current_snapshot() is None:
                seen = local_df(spark, [], "fp string")
            else:
                fps = [r[0] for r in batch_fp.select("fp").distinct().collect()]
                seen = table.scan(
                    spark,
                    columns=["fp"],
                    prune=[PrunePredicate("fp", "in", fps)],
                )
            accepted = dedup_incremental(
                batch_fp, seen, text_col=text_col, id_col=id_col
            ).select(*out_cols)
            entries = table.write_data_files(accepted)
        finally:
            batch_fp.unpersist()
        table.commit_append(
            entries,
            extra_summary={
                "stream-id": stream_id,
                "stream-epoch": epoch_id,
                # from the written footers — never a second anti-join run
                "dedup-accepted": sum(e.record_count for e in entries),
            },
            set_properties={_max_epoch_prop(stream_id): epoch_id},
        )

    return _drain_exactly_once(
        spark, table, source_dir, schema, checkpoint_dir, stream_id,
        max_files_per_trigger, apply_batch,
    )


def stream_image_ingest(
    spark: SparkSession,
    table: Table,
    index_table: Table,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    stream_id: str = "image-ingest",
    quality_col: str | None = None,
    max_dist: int | None = None,
    max_files_per_trigger: int | None = None,
) -> int:
    """Streaming PERCEPTUALLY-DEDUPLICATED image ingest: each micro-batch
    lands only images not within Hamming ``max_dist`` (phash) of anything
    already in the corpus — the image-side sibling of
    :func:`stream_dedup_ingest`, with the Hamming-LSH index table
    (functions/hamming_index.py) as the probe side, so per-batch cost is
    ∝ batch × touched index partitions, never ∝ corpus.

    Per batch: (1) the index catches up to the corpus head through its
    incremental CDC refresh (cost ∝ rows appended since its stamp —
    normally just the previous batch); (2) the batch probes the index and
    drops corpus near-dups + collapses in-batch groups to one survivor
    (quality-ranked when ``quality_col`` is set, e.g. a resolution
    column); (3) survivors append with the stream epoch riding IN the
    snapshot (same exactly-once guard as stream_append); (4) the index
    ingests the accepted rows. A crash anywhere is safe: the epoch guard
    skips replayed batches whole, and an unindexed tail is re-absorbed by
    the NEXT batch's leading refresh (the index freshness stamp rides in
    its own data commits, so refresh never double-appends).

    Near-dup completeness is relative to the corpus snapshot the index
    reflects at probe time — a CONCURRENT writer appending images mid-
    batch can slip a near-dup pair through, the inherent caveat of any
    asynchronous index; single-writer-per-stream (this module's standing
    assumption) closes it."""
    from ..functions.hamming_index import batch_neardup_filter, hamming_index_refresh

    def apply_batch(batch_df, epoch_id: int) -> None:
        hamming_index_refresh(spark, index_table, table)
        accepted = batch_neardup_filter(
            spark, index_table, batch_df, quality_col=quality_col, max_dist=max_dist
        )
        entries = table.write_data_files(accepted)
        table.commit_append(
            entries,
            extra_summary={
                "stream-id": stream_id,
                "stream-epoch": epoch_id,
                # from the written footers — never a second filter run
                "dedup-accepted": sum(e.record_count for e in entries),
            },
            set_properties={_max_epoch_prop(stream_id): epoch_id},
        )
        hamming_index_refresh(spark, index_table, table)

    return _drain_exactly_once(
        spark, table, source_dir, schema, checkpoint_dir, stream_id,
        max_files_per_trigger, apply_batch,
    )
