"""Token-budget shard packing — the training-export shape.

A curated corpus ships to trainers as fixed-token-budget shards in a
deterministic order. The assignment is a global running sum of token
counts — trivially `floor(cumsum/budget)` in one-machine SQL, but a naive
`Window.orderBy(...)` with no partition key collapses Spark to a single
task. Here the cumsum is the standard two-phase distributed pattern:

1. `repartitionByRange(order_col)` — ascending key ranges land on
   ascending partition ids (RangePartitioner contract), so partition-local
   order + partition id reconstruct the total order;
2. per-partition token totals (one O(#partitions) aggregate) prefix-sum on
   the driver into per-partition OFFSETS — scalar metadata, broadcast
   back;
3. partition-local window cumsum + offset = exact global cumsum, every
   partition in parallel.

Deterministic for a given (order_col, budget) regardless of input layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.local import local_df


def assign_shards(
    docs: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 4096,
    order_col: str = "doc_id",
    num_partitions: int | None = None,
    group_cols: list[str] | None = None,
    group_offsets: dict | None = None,
) -> DataFrame:
    """Add ``shard`` = floor(tokens-before-this-doc / budget) in order_col
    order: contiguous docs pack into the same shard until the budget
    spills into the next (greedy contiguous packing; a doc straddling a
    boundary belongs to the shard its FIRST token falls in). Invariant:
    the first s shards together hold [s*budget, s*budget + max_doc_tokens)
    tokens — each boundary tracks the budget to within one document — and
    when every doc is smaller than the budget, shard ids are dense.
    ``order_col`` must be a unique key (the shard map joins back on it).

    With ``group_cols`` the cumsum RESTARTS per group — every group packs
    its own shard sequence from 0 independently (aspect-ratio buckets for
    image batches, domains for mixture-controlled corpora). The range
    partitioning keys on (group_cols..., order_col), so each group spans a
    contiguous run of partition ids and the same two-phase offset trick
    applies per (partition, group) cell. Driver state is
    O(#partitions + #groups) offset rows — groups are meant to be coarse
    (dozens of aspect buckets, hundreds of domains), NOT a high-cardinality
    key; shard counts within a group stay dense because the group's cells
    prefix-sum in ascending-pid order. Group columns must be non-null (the
    shard map equi-joins on them).

    ``group_offsets`` maps a group-key tuple to the token count ALREADY
    packed for that group before this call — the cumsum (and therefore the
    shard ids) continues from there instead of 0. This is how incremental
    packing appends to an existing shard sequence at delta cost: pack only
    the new rows with offsets = the old per-group totals, and the resulting
    shard ids line up exactly with a from-scratch repack of old+new."""
    spark = docs.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    gcols = list(group_cols or [])
    # the cumsum runs over a NARROW (group, order, tokens) projection and
    # the resulting shard map joins back onto the corpus: a training-export
    # corpus carries multi-KB payload columns, and materializing those to
    # executor storage (the checkpoint below) or dragging them through the
    # cumsum stages would dominate the job for no reason.
    narrow = docs.select(*[F.col(c) for c in gcols], F.col(order_col), F.col(token_col))
    # materialize ONE range partitioning before anything reads it: the
    # offsets aggregate and the final window are separate jobs, and
    # RangePartitioner re-samples per execution (seed derives from the RDD
    # id) — without the checkpoint the two jobs could pick different
    # boundaries and the offsets would correct the wrong partitions
    range_keys = [F.col(c) for c in gcols] + [F.col(order_col)]
    p = (
        narrow.repartitionByRange(n_part, *range_keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    cell_rows = (
        p.groupBy("_pid", *gcols)
        .agg(F.coalesce(F.sum(token_col), F.lit(0)).alias("_tot"))
        .collect()
    )
    # prefix-sum each group's cells in ascending-pid order; the ungrouped
    # call is the single-group special case of the same loop
    by_group: dict = {}
    for r in cell_rows:
        gkey = tuple(r[c] for c in gcols)
        if any(v is None for v in gkey):
            # a null group key would silently vanish in the equi-joins
            # below (null never matches null) — rows would drop from the
            # output with no error. Fail loudly instead; the cells are
            # already on the driver so this check is free.
            raise ValueError(
                f"null group key {dict(zip(gcols, gkey))} in assign_shards "
                "group_cols — group columns must be non-null"
            )
        by_group.setdefault(gkey, []).append((r["_pid"], int(r["_tot"])))
    offsets = []
    for gkey, cells in by_group.items():
        run = int((group_offsets or {}).get(gkey, 0))
        for pid, tot in sorted(cells):
            offsets.append((pid, *gkey, run))
            run += tot
    off_schema = T.StructType(
        [T.StructField("_pid", T.IntegerType())]
        + [T.StructField(c, narrow.schema[c].dataType) for c in gcols]
        + [T.StructField("_offset", T.LongType())]
    )
    # an Arrow local relation: the offsets never pass through a Python
    # worker, so the shard-map plan runs no Python stage for them
    off = F.broadcast(local_df(spark, offsets, off_schema))
    w = Window.partitionBy("_pid", *gcols).orderBy(order_col)
    shard_map = (
        p.join(off, ["_pid", *gcols])
        .withColumn(
            "_before",
            F.col("_offset") + F.sum(token_col).over(w) - F.col(token_col),
        )
        .select(
            F.col(order_col),
            F.floor(F.col("_before") / budget).cast("int").alias("shard"),
        )
    )
    return docs.join(shard_map, order_col)
