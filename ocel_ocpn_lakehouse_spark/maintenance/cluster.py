"""T6 — Z-order/Hilbert clustering rewrite, EXECUTED (not just recommended).

The reference checks sort-order drift and recommends re-clustering
(ops/advanced_partitioning.py:154-181); here the rewrite runs, as a fully
Arrow-native two-phase job (Spark is the planner/scheduler; payload bytes
never enter the JVM row pipeline):

  1. KEY SAMPLING (Arrow tasks over file specs): per-partition zkey
     quantiles from key-column-only pyarrow reads — image bytes stay out
     of the sampling pass, and no JVM per-file reader setup is paid on
     fragmented inputs. Each sampling task returns one numpy key array
     per partition at a uniform rate; the driver pools them per partition
     and takes the nb−1 exact order statistics, so the sampling stage is
     the phase's only Python stage. Above BOUNDS_EXACT_MAX_SAMPLES keys in
     all (32 MB) the pool goes to the JVM percentile_approx sketch
     instead. Bounds shape only file sizes, never row placement
     correctness. One range bucket `_zb` per ≈target-size output file.
     The curve key interleaves (phash, w, h) with a crc32(image_id)
     low-order salt suffix (north rule: "salting for phash hot-spots" —
     boundaries can fall inside a hot phash cell and spread it over
     several files).
  2. MAP (over FILE SPECS — metadata rows): each task reads its input
     files, recomputes the curve key in numpy (bit-identical to the Spark
     expressions — functions/zorder.py numpy mirrors, asserted by
     test_curve_key_numpy_parity), bins rows into range buckets with
     searchsorted, and routes them through the kernel's FragmentRouter —
     a file-level shuffle write in Arrow C++, no JVM row serialization.
  3. REDUCE (over COMBO SPECS): each task reads its bucket's fragments,
     sorts by `_zkey` (kept as a real column so footer stats give per-file
     zkey min/max — the north rule's "per-file min/max stats rewrite") and
     writes ONE ≈target-size file.
  4. replace-snapshot commit + manifest rewrite (T7); the job ledger
     (maintenance/checkpoint.py) records its states, phases and lineage.

Reads, staged writes, stats, fragments and publish run on the
staged-rewrite kernel (maintenance/rewrite.py). An op runs three Python
stages (bounds, map, reduce); at bench scale each costs about 0.3 s on
4 vCPU whatever it does, so the stage count is the op's fixed cost
(BENCH/TASK_CONTENTION.md). Scale notes: every job
iterates metadata specs in one wave of at most one task per core, one
Python stage (the kernel's fan-out rule): the bounds and map jobs pack input files by bytes,
the reduce packs output files by routed rows — no hash collisions, no idle
reducers. Fragment fan-out per map task is bounded by the combos of its
own table partition (a partition of B bytes has B/target buckets); very
large single partitions should be clustered in partition-range waves, the
same granularity Iceberg's rewrite actions use. Empty range buckets are
legal (quantile estimation); lost reducer outputs are not — a row-count
guard fails the job before the replace commit could drop data.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.table import Table
from .checkpoint import Job, SystemTables
from .rewrite import FragmentRouter, StagedRewrite, file_spec, read_fragments, tasks_rdd

ZKEY_COL = "_zkey"
_IMAGE_KEY_COLS = ("phash", "w", "h", "image_id")

# bounds path switch: exact order statistics pool the sample (~1k keys per
# output bucket, 8 bytes each) on the driver; above this many sampled keys
# over all partitions (32 MB), route to the JVM percentile_approx sketch so
# the driver never holds the pool
BOUNDS_EXACT_MAX_SAMPLES = 4_000_000


def _curve_spec(table: Table, curve: str, key_cols: list[str] | None) -> dict:
    """Resolve the clustering curve to (spark expr, numpy fn inputs).

    curve: 'zorder' | 'hilbert' (image tables) | 'hash' (generic fallback,
    crc32 of stringified key columns — numpy-computable like the others).
    """
    fields = set(table.schema.fieldNames())
    if curve in ("zorder", "hilbert") and set(_IMAGE_KEY_COLS) <= fields:
        return {"kind": curve, "inputs": list(_IMAGE_KEY_COLS)}
    cols = key_cols or [f.column for f in table.sort_order.fields if f.column in fields]
    if not cols:
        cols = sorted(fields - {"bytes"})[:1]
    return {"kind": "hash", "inputs": cols}


def _curve_np(spec: dict, tbl) -> "object":
    """Compute the curve key for a pyarrow Table → np.int64 array."""
    import numpy as np

    from ..functions import zorder as Z

    if spec["kind"] in ("zorder", "hilbert"):
        phash = tbl["phash"].to_numpy(zero_copy_only=False).astype(np.int64)
        w = tbl["w"].to_numpy(zero_copy_only=False).astype(np.int64)
        h = tbl["h"].to_numpy(zero_copy_only=False).astype(np.int64)
        salt = Z.crc32_salt16_np(tbl["image_id"].to_pylist())
        fn = Z.image_zorder_key_np if spec["kind"] == "zorder" else Z.image_hilbert_key_np
        return fn(phash.astype(np.uint64), w.astype(np.uint64), h.astype(np.uint64), salt)
    arrays = [tbl[c].to_pylist() for c in spec["inputs"]]
    return Z.hash_key_np(arrays)


def execute_cluster(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    curve: str = "zorder",  # zorder | hilbert | hash
    key_cols: list[str] | None = None,
    job_id: str | None = None,
    planning: str = "auto",  # auto | driver | distributed
) -> dict:
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table"}
    job = Job(sys_tables, "cluster", table, table_name, job_id, snap.snapshot_id)
    if job.committed():
        return {"status": "already-committed", "job_id": job.job_id}

    spec = table.partition_spec
    pcols = spec.partition_columns()
    cspec = _curve_spec(table, curve, key_cols)
    root = table.root

    # --- 0. planning: per-partition byte/record totals + the file relation.
    # 'driver' materializes the manifest entries (fine to ~10^4 files);
    # 'distributed' keeps them in entries_df — the driver sees only one
    # aggregate row per table partition plus the plan scalars, so a
    # 10^7-file table plans without manifests ever becoming driver objects
    # (same routing as compaction's plan_compaction_distributed).
    if planning == "auto":
        planning = "distributed" if table.plans_distributed(snap.manifests) else "driver"
    removed: set[str] | None
    if planning == "driver":
        entries = table.live_entries()
        if not entries:
            return {"status": "empty-table"}
        n_files = len(entries)
        part_agg: dict[str, tuple[int, int]] = {}
        part_files: dict[str, int] = {}
        for e in entries:
            k = json.dumps(e.partition, sort_keys=True)
            b, r = part_agg.get(k, (0, 0))
            part_agg[k] = (b + e.size_bytes, r + e.live_count)
            part_files[k] = part_files.get(k, 0) + 1
        input_ref = [e.path for e in entries]
        removed = {e.path for e in entries}
        # DV counts at plan time — the rewrite absorbs exactly these
        # tombstones; commit_replace conflicts if a concurrent delete
        # lands on an input file after this point
        expected_dvs: dict[str, int] | None = {e.path: len(e.deletes) for e in entries}
    else:
        edf = table.entries_df(spark).select(
            "path",
            "partition",
            "size_bytes",
            "record_count",
            F.coalesce(F.col("deletes"), F.lit("[]")).alias("deletes"),
        )
        # live rows per file = record_count − positional-delete counts; the
        # rewrite absorbs DVs, so the map/reduce row guard must expect live rows
        _live_expr = F.expr(
            "record_count - coalesce(aggregate("
            "from_json(deletes, 'array<struct<path:string,count:bigint>>'), "
            "0L, (a, x) -> a + x.count), 0L)"
        )
        agg_rows = (
            edf.groupBy("partition")
            .agg(
                F.sum("size_bytes").alias("b"),
                F.sum(_live_expr).alias("r"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        if not agg_rows:
            return {"status": "empty-table"}
        n_files = sum(r["n"] for r in agg_rows)
        part_agg = {r["partition"]: (int(r["b"]), int(r["r"])) for r in agg_rows}
        part_files = {r["partition"]: int(r["n"]) for r in agg_rows}
        # checkpoint rows reference the snapshot instead of materializing
        # 10^7 input paths on the driver; expiry/lineage resolve it lazily
        input_ref = [f"snapshot:{snap.snapshot_id}"]
        removed = None
        expected_dvs = None  # replace_all's snapshot pin subsumes the DV check
    total_bytes = sum(b for b, _ in part_agg.values())
    total_records = sum(r for _, r in part_agg.values())

    job.mark("planned", input_files=input_ref, rows=total_records, bytes=total_bytes)

    part_bytes = {k: b for k, (b, _) in part_agg.items()}
    n_sub = {k: max(1, -(-b // table.target_file_size)) for k, b in part_bytes.items()}
    max_sub = max(n_sub.values())

    rw = StagedRewrite.begin(spark, table, extra_stats={ZKEY_COL})
    shuffle_dir = os.path.join(rw.staging, "_shuffle")
    weights = None
    if planning == "driver":
        files: list | DataFrame = [file_spec(root, e) for e in entries]
        weights = [e.size_bytes for e in entries]
    else:
        # tasks_rdd repartitions these metadata rows (one shuffle; payload
        # bytes are untouched). The dv column carries {"rel", "dvs": [abs
        # DV paths]} for tombstoned files ("" for clean ones) so rewrite
        # tasks can absorb deletes.
        dv_col = F.when(F.col("deletes") == "[]", F.lit("")).otherwise(
            F.to_json(
                F.struct(
                    F.col("path").alias("rel"),
                    F.expr(
                        "transform(from_json(deletes, "
                        "'array<struct<path:string,count:bigint>>'), "
                        f"x -> concat('{root + os.sep}', x.path))"
                    ).alias("dvs"),
                )
            )
        )
        files = edf.select(
            F.concat(F.lit(root + os.sep), F.col("path")).alias("path"),
            F.col("partition").alias("pkey"),
            dv_col.alias("dv"),
        )

    def _map_rdd(fn):
        return tasks_rdd(spark, files, fn, weights)

    # --- 1. quantile boundaries from Arrow key sampling --------------------
    # repartitionByRange would sample the full-width shuffle input — on an
    # image table that is a second complete read of every payload byte. A
    # JVM key-only scan avoids the bytes but pays per-file reader setup
    # (~50 ms/file — minutes at 10^4 fragmented inputs). Instead the same
    # Arrow tasks that will rewrite the files sample the curve key: each
    # reads only the key columns, sorts, returns every step-th order
    # statistic at a globally uniform rate; pooled per table-partition,
    # that yields unbiased quantiles. Bounds only shape file sizes — row
    # placement uses searchsorted against whatever bounds all tasks share,
    # and the row-count guard gates the commit — so sampling error cannot
    # cost correctness, only balance.
    bounds_by_pkey: dict[str, list[int]] = {k: [] for k in n_sub}
    with job.phase("bounds"):
        if max_sub > 1:
            key_cols_read = [c for c in cspec["inputs"] if c in table.schema.fieldNames()]
            # pooled sample target: ~1k keys per output bucket bounds the
            # relative file-size error at ~3% regardless of table size; rows
            # are subsampled (evenly spaced, deterministic) BEFORE the curve
            # key is computed, so sampling cost shrinks with the rate instead
            # of paying the full-table key computation
            target = max(50_000, 1_000 * sum(n_sub.values()))
            # only partitions cut into more than one output file need bounds
            nb_map = {k: int(v) for k, v in n_sub.items() if int(v) > 1}

            def _sample_keys(recs):
                import numpy as np
                import pyarrow as pa

                pool: dict[str, list] = {}
                for rec in recs:
                    if rec["pkey"] not in nb_map:
                        continue
                    # sample live rows only (positions index the full file)
                    tbl = rw.read_live(rec["path"], rec["dv"], columns=key_cols_read)
                    n = tbl.num_rows
                    if n == 0:
                        continue
                    k = max(16, min(n, -(-n * target // max(total_records, 1))))
                    idx = np.linspace(0, n - 1, num=int(k)).astype(np.int64)
                    keys = _curve_np(cspec, tbl.take(pa.array(idx)))
                    pool.setdefault(rec["pkey"], []).append(np.asarray(keys, dtype=np.int64))
                # one (pkey, key array) pair per task and partition: the
                # keys cross to the driver as whole numpy arrays
                return [(pk, np.concatenate(ks)) for pk, ks in pool.items()]

            samples = _map_rdd(_sample_keys)
            # nominal pool size over ALL partitions, not the sampling rate
            # alone: _sample_keys floors at 16 keys PER FILE, so a heavily
            # fragmented partition pools 16×#files even when 1000×nb is
            # small. The exact path brings every sampled key to the driver,
            # so the total (not the largest partition) must clear the cap.
            est_pool = sum(
                max(1_000 * nb, 16 * part_files.get(pk, 0)) for pk, nb in nb_map.items()
            )
            if est_pool > BOUNDS_EXACT_MAX_SAMPLES:
                # the sample is too large to pool on the driver (at the
                # 10^12-row design point it is 10^9+ longs) — switch to
                # the JVM t-digest sketch: fixed quantile grid per partition,
                # bounded memory at every stage, driver slices the grid to the
                # nb−1 bounds. Sketch error shifts file-size balance only —
                # row placement searchsorts against whatever bounds all tasks
                # share, and the row-count guard still gates the commit.
                grid_n = min(10_000, 2 * max(nb_map.values()))
                grid = [i / grid_n for i in range(1, grid_n)]
                sample_df = spark.createDataFrame(
                    samples.flatMap(lambda kv: ((kv[0], int(k)) for k in kv[1])),
                    "pkey string, k long",
                )
                rows = (
                    sample_df.groupBy("pkey")
                    .agg(F.percentile_approx("k", grid, 10_000).alias("qs"))
                    .collect()
                )
                for r in rows:
                    nb = nb_map.get(r["pkey"], 1)
                    qs = r["qs"]
                    if nb > 1 and qs:
                        bounds_by_pkey[r["pkey"]] = [
                            int(qs[min(len(qs) - 1, max(0, (i * grid_n) // nb - 1))])
                            for i in range(1, nb)
                        ]
            else:
                # exact order statistics, pooled per table partition on the
                # driver: the sampling stage is the job's only Python stage
                import numpy as np

                pools: dict[str, list] = {}
                for pk, keys in samples.collect():
                    pools.setdefault(pk, []).append(keys)
                for pk, arrays in pools.items():
                    nb = nb_map[pk]
                    ks = np.sort(np.concatenate(arrays))
                    idxs = [min(len(ks) - 1, (i * len(ks)) // nb) for i in range(1, nb)]
                    bounds_by_pkey[pk] = [int(b) for b in ks[idxs]]

    # combo = (partition, range bucket) → dense index; combos are metadata
    combos: list[tuple[str, int]] = [
        (pk, zb_i) for pk in sorted(n_sub) for zb_i in range(n_sub[pk])
    ]
    combo_index: dict[tuple[str, int], int] = {c: i for i, c in enumerate(combos)}

    # --- 2. MAP: Arrow file-level shuffle write ---------------------------
    def _map_shuffle(recs):
        import numpy as np
        import pyarrow as pa

        router = FragmentRouter(shuffle_dir)
        t_read = 0.0
        for rec in recs:
            tr = time.time()
            # absorb positional deletes: the rewritten layout is clean
            tbl = rw.read_live(rec["path"], rec["dv"])
            t_read += time.time() - tr
            pkey = rec["pkey"]
            zkey = _curve_np(cspec, tbl)
            tbl = tbl.append_column(ZKEY_COL, pa.array(zkey, type=pa.int64()))
            bounds = np.asarray(bounds_by_pkey.get(pkey, []), dtype=np.int64)
            zb = (
                np.searchsorted(bounds, zkey, side="right")
                if len(bounds)
                else np.zeros(len(zkey), dtype=np.int64)
            )
            router.route(tbl, zb, lambda zb_i: combo_index[(pkey, zb_i)])
        router.close()
        acks = [{"cidx": c, "rows": n, "t_read": 0.0, "t_write": 0.0}
                for c, n in router.rows.items()]
        if acks:  # task-level timings ride on one row per task
            acks[0].update(t_read=t_read, t_write=router.t_write)
        return acks

    with job.phase("map"):
        map_acks = _map_rdd(_map_shuffle).collect()
        mapped_rows = sum(r["rows"] for r in map_acks)
        if mapped_rows != total_records:
            raise RuntimeError(f"cluster map row mismatch: {mapped_rows} != {total_records}")
    job.task_totals("map_task_totals", map_acks, ("t_read", "t_write"))

    # --- 3. REDUCE: concat + sort + one file per combo --------------------
    combo_rows: dict[int, int] = {}
    for r in map_acks:
        combo_rows[r["cidx"]] = combo_rows.get(r["cidx"], 0) + r["rows"]
    live_combos = sorted(combo_rows)

    def _reduce_write(recs):
        for rec in recs:
            cidx = rec["cidx"]
            tr = time.time()
            tbl = read_fragments(shuffle_dir, [cidx])
            ts_ = time.time()
            tbl = tbl.sort_by([(ZKEY_COL, "ascending")])
            tw = time.time()
            row = rw.write(tbl, f"c{cidx}.parquet")
            yield {**row, "cidx": cidx, "t_read": ts_ - tr, "t_sort": tw - ts_,
                   "t_write": time.time() - tw}

    with job.phase("reduce"):
        stat_rows = tasks_rdd(
            spark, [{"cidx": c} for c in live_combos], _reduce_write,
            [combo_rows[c] for c in live_combos],
        ).collect()
    job.task_totals("reduce_task_totals", stat_rows, ("t_read", "t_sort", "t_write"))

    # --- 4. publish + commit ----------------------------------------------
    with job.phase("publish"):
        new_entries = rw.publish(stat_rows, lambda r: json.loads(combos[r["cidx"]][0]))
    out_paths = [e.path for e in new_entries]
    out_bytes = sum(e.size_bytes for e in new_entries)
    rewritten_rows = sum(e.record_count for e in new_entries)
    job.mark("written", input_files=input_ref, output_files=out_paths,
             rows=rewritten_rows, bytes=out_bytes)

    if rewritten_rows != total_records:
        # a lost reducer output must fail the job before the replace commit
        # removes its input files (empty range buckets are fine; missing
        # rows are not)
        raise RuntimeError(
            f"cluster rewrite row-count mismatch: {rewritten_rows} != {total_records}"
        )
    summary = {"job": job.job_id, "op": "cluster", "curve": curve}
    with job.phase("commit"):
        if removed is not None:
            table.commit_replace(
                removed, new_entries, operation="replace", summary=summary,
                expected_dv_counts=expected_dvs,
            )
        else:
            # whole-table rewrite without a driver-side removed set; fails if
            # the table moved past the planned snapshot (see commit_replace)
            table.commit_replace(
                set(), new_entries, operation="replace", summary=summary,
                replace_all=True, expected_snapshot_id=snap.snapshot_id,
            )
    done = job.finish(
        files_before=n_files, files_after=len(new_entries), bytes_before=total_bytes,
        bytes_after=out_bytes, rows=total_records, input_files=input_ref,
        output_files=out_paths,
    )
    return {
        "status": "committed",
        "job_id": done["job_id"],
        "curve": curve,
        "planning": planning,
        "files_before": n_files,
        "files_after": len(new_entries),
        "rows": total_records,
        "bytes": total_bytes,
        **done,
    }
