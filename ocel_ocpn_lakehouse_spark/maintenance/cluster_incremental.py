"""Incremental clustering: merge appended data into an existing
curve-sorted layout at cost ∝ delta + overlapped span — never a corpus
rewrite.

Reference parity: the reference maintenance layer re-sorts whole tables
(reference/ops/automated_maintenance_system.py schedules full rewrites),
and Iceberg's rewrite_data_files(sort) defaults to the same full scope.
At the 10^12-image design point a 0.1% daily append cannot pay a
full-table rewrite; this op is the LSM answer: appends are L0, the
clustered layout is L1, and only the L1 files whose key ranges actually
receive new keys are merged.

File classification needs NO extra state and no snapshot walking:
every cluster/rewrite output physically carries the curve key as a
``_zkey`` column (maintenance/cluster.py keeps it in the written file and
in ``stats_cols``), so its manifest entry holds ``_zkey`` lower/upper
bounds — a BASE file with a known immutable key range. DVs only remove
rows, so stamped bounds stay conservative; bin-pack compaction reads
through the table schema and therefore DROPS the column, correctly
demoting its outputs to delta (their sort is destroyed). Any live file
without the stamp — fresh appends, compacted files, pre-clustering
files — is DELTA.

Shape (one key-only delta scan, one delta rewrite, one touched-base
rewrite; zero Spark shuffles — fragments route via searchsorted against
driver-built group spans exactly like the cluster map's bucket routing):

1. PROBE: an Arrow task per delta-file batch reads ONLY the key columns,
   computes each live row's curve key, and classifies it against the
   sorted non-overlapping base intervals: inside file i → file i is
   touched; in the open gap before file g → gap g is touched. Untouched
   base files are never opened.
2. GROUPS: touched entities coalesce greedily (by target file size)
   into merge groups, but only within the segments bounded by untouched
   files — so every group's output key span lies strictly outside every
   untouched file's range, and the non-overlap invariant that makes the
   NEXT incremental pass cheap survives every pass by induction.
3. ROUTE: delta files re-read full-width; rows land in per-group staged
   fragments through the kernel's FragmentRouter.
4. MERGE: one Arrow task per group reads its base file(s) (DVs
   absorbed) + its fragments, sorts by the key, splits at target file
   size, and stamps ``_zkey`` bounds + blooms — each output is itself a
   valid base file for the next pass.
5. COMMIT: commit_replace removes the touched base files + ALL delta
   files, guarded by expected DV counts and row-count equality
   (delta live + touched-base live == rows written).

Reads, fragments, staged writes, stats and publish run on the
staged-rewrite kernel (maintenance/rewrite.py).

Planning is driver-side over ``live_entries`` — O(#files) interval
metadata, the same envelope as the driver planning path in
compact/cluster; beyond ``Table.plans_distributed`` entries the interval
table and the searchsorted classification are expressible over
``entries_df`` exactly like ``plan_compaction_distributed`` (the probe
and route passes are already distributed Arrow tasks either way).

Fallbacks keep the operator total: no base stamps → full
``execute_cluster`` (first layout); a different curve than the last
cluster commit → full (stamps are curve-specific); delta above
``max_delta_frac`` of table bytes → full (touching most of the table
anyway); overlapping base intervals (foreign writer) → full.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..core.table import Table
from .checkpoint import Job, SystemTables
from .cluster import ZKEY_COL, _curve_np, _curve_spec, execute_cluster
from .rewrite import FragmentRouter, StagedRewrite, file_spec, read_fragments, tasks_rdd

# above this fraction of table bytes sitting in delta, a full rewrite is
# cheaper (and restores perfect balance); below it, incremental wins
DEFAULT_MAX_DELTA_FRAC = 0.25


def _last_cluster_curve(table: Table) -> str | None:
    for s in reversed(table.md.snapshots):
        if s.summary.get("op") == "cluster":
            return s.summary.get("curve")
    return None


def execute_cluster_incremental(
    spark: SparkSession,
    table: Table,
    sys_tables: SystemTables,
    table_name: str = "",
    curve: str = "zorder",
    key_cols: list[str] | None = None,
    job_id: str | None = None,
    max_delta_frac: float = DEFAULT_MAX_DELTA_FRAC,
) -> dict:
    snap = table.current_snapshot()
    if snap is None:
        return {"status": "empty-table"}
    job = Job(sys_tables, "cluster-incr", table, table_name, job_id, snap.snapshot_id)
    if job.committed():
        return {"status": "already-committed", "job_id": job.job_id}

    def _full(reason: str) -> dict:
        out = execute_cluster(
            spark, table, sys_tables, table_name, curve=curve, key_cols=key_cols
        )
        out["mode"] = f"full-fallback:{reason}"
        return out

    entries = table.live_entries()
    if not entries:
        return {"status": "empty-table"}
    base = [e for e in entries if e.lower_bounds.get(ZKEY_COL) is not None]
    delta = [e for e in entries if e.lower_bounds.get(ZKEY_COL) is None]
    if not base:
        return _full("no-clustered-layout")
    last_curve = _last_cluster_curve(table)
    if last_curve is not None and last_curve != curve:
        return _full(f"curve-changed:{last_curve}->{curve}")
    if not delta:
        return {"status": "no-op", "reason": "no-delta-files", "job_id": job.job_id}
    total_bytes = sum(e.size_bytes for e in entries)
    delta_bytes = sum(e.size_bytes for e in delta)
    if delta_bytes > max_delta_frac * total_bytes:
        return _full(f"delta-frac:{delta_bytes / max(total_bytes, 1):.2f}")

    cspec = _curve_spec(table, curve, key_cols)
    root = table.root
    target = table.target_file_size

    # ---- interval table: per partition, base files sorted by _zkey lo ----
    def _pkey(e) -> str:
        return json.dumps(e.partition, sort_keys=True)

    base_by_part: dict[str, list] = {}
    for e in base:
        base_by_part.setdefault(_pkey(e), []).append(e)
    intervals: dict[str, dict] = {}
    for pk, es in base_by_part.items():
        es.sort(key=lambda e: int(e.lower_bounds[ZKEY_COL]))
        los = [int(e.lower_bounds[ZKEY_COL]) for e in es]
        his = [int(e.upper_bounds[ZKEY_COL]) for e in es]
        for i in range(1, len(es)):
            if los[i] <= his[i - 1]:
                # a foreign writer broke the invariant; classification
                # would be ambiguous — restore the layout wholesale
                return _full("overlapping-base-intervals")
        intervals[pk] = {"los": los, "his": his, "entries": es}
    # partitions that exist only in delta (fresh partitions) classify
    # everything to gap 0 of an empty interval list
    for e in delta:
        intervals.setdefault(_pkey(e), {"los": [], "his": [], "entries": []})

    delta_by_part: dict[str, list] = {}
    for e in delta:
        delta_by_part.setdefault(_pkey(e), []).append(e)
    delta_live_total = sum(e.live_count for e in delta)
    if delta_live_total == 0:
        # all delta rows are tombstoned; nothing to merge (compaction owns
        # reclaiming fully-dead files)
        return {"status": "no-op", "reason": "delta-fully-deleted", "job_id": job.job_id}

    input_ref = [f"snapshot:{snap.snapshot_id}"]
    job.mark("planned", input_files=input_ref, rows=delta_live_total, bytes=delta_bytes)

    rw = StagedRewrite.begin(spark, table, extra_stats={ZKEY_COL})
    shuffle_dir = os.path.join(rw.staging, "_incr_shuffle")
    span_meta = {pk: (v["los"], v["his"]) for pk, v in intervals.items()}
    key_cols_read = [c for c in cspec["inputs"] if c in table.schema.fieldNames()]

    delta_files = [e for es in delta_by_part.values() for e in es]
    delta_specs = [file_spec(root, e) for e in delta_files]

    def _delta_rdd(fn):
        return tasks_rdd(spark, delta_specs, fn, [e.size_bytes for e in delta_files])

    def _classify(np, keys, los, his):
        """entity code per key: 2i+1 inside base file i, 2g for the open
        gap before base file g (g in [0..n])."""
        if not len(los):
            return np.zeros(len(keys), dtype=np.int64)
        los_a = np.asarray(los, dtype=np.int64)
        his_a = np.asarray(his, dtype=np.int64)
        pos = np.searchsorted(los_a, keys, side="right") - 1
        safe = np.maximum(pos, 0)
        infile = (pos >= 0) & (keys <= his_a[safe])
        return np.where(infile, 2 * safe + 1, 2 * (pos + 1))

    # ---- 1. PROBE: key-only delta scan → touched entities ----------------
    def _probe(recs):
        import numpy as np

        agg: dict[tuple[str, int], int] = {}
        for rec in recs:
            tbl = rw.read_live(rec["path"], rec["dv"], columns=key_cols_read)
            if tbl.num_rows == 0:
                continue
            keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
            ent = _classify(np, keys, *span_meta[rec["pkey"]])
            for e_i, n in zip(*np.unique(ent, return_counts=True)):
                k = (rec["pkey"], int(e_i))
                agg[k] = agg.get(k, 0) + int(n)
        return [{"pkey": pk, "entity": e_i, "rows": n} for (pk, e_i), n in agg.items()]

    with job.phase("probe"):
        probe_rows = _delta_rdd(_probe).collect()
        probed_total = sum(r["rows"] for r in probe_rows)
        if probed_total != delta_live_total:
            raise RuntimeError(
                f"cluster-incr probe row mismatch: {probed_total} != {delta_live_total}"
            )
        touched: dict[str, dict[int, int]] = {}
        for r in probe_rows:
            touched.setdefault(r["pkey"], {})[int(r["entity"])] = (
                touched.get(r["pkey"], {}).get(int(r["entity"]), 0) + int(r["rows"])
            )

    # ---- 2. GROUPS: coalesce touched entities within segments ------------
    # entities sort by code; an UNtouched base file (odd code absent from
    # the touched set) ends the current segment — groups never span one,
    # so outputs cannot overlap untouched ranges
    avg_delta_row_bytes = delta_bytes / max(delta_live_total, 1)
    groups: list[dict] = []  # {pkey, entities:[codes], base:[entries], est_bytes, rows}
    entity2group: dict[tuple[str, int], int] = {}
    for pk, ents in sorted(touched.items()):
        base_es = intervals[pk]["entries"]
        n_files = len(base_es)
        codes = sorted(ents)
        cur: dict | None = None
        prev_file_idx = -1  # last base-file index at/before the previous code
        for code in codes:
            file_idx = code // 2 if code % 2 else code // 2 - 1
            # untouched base files strictly between the previous entity and
            # this one break the segment
            barrier = any(
                (2 * i + 1) not in ents
                for i in range(max(prev_file_idx + 1, 0), min(file_idx + 1, n_files))
                if (2 * i + 1) != code
            )
            est = ents[code] * avg_delta_row_bytes
            brows = 0
            if code % 2:  # touched base file joins its group
                e = base_es[code // 2]
                est += e.size_bytes
                brows = e.live_count
            if cur is None or barrier or cur["est_bytes"] + est > target * 2:
                cur = {"pkey": pk, "entities": [], "base": [], "est_bytes": 0.0, "rows": 0}
                groups.append(cur)
            cur["entities"].append(code)
            cur["est_bytes"] += est
            cur["rows"] += ents[code] + brows
            if code % 2:
                cur["base"].append(base_es[code // 2])
            entity2group[(pk, code)] = len(groups) - 1
            prev_file_idx = file_idx
    touched_base = [e for g in groups for e in g["base"]]
    touched_base_live = sum(e.live_count for e in touched_base)

    # ---- 3. ROUTE: delta rows → per-group staged fragments ---------------
    def _route(recs):
        import numpy as np
        import pyarrow as pa

        router = FragmentRouter(shuffle_dir)
        for rec in recs:
            tbl = rw.read_live(rec["path"], rec["dv"])
            if tbl.num_rows == 0:
                continue
            pkey = rec["pkey"]
            keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
            tbl = tbl.append_column(ZKEY_COL, pa.array(keys, type=pa.int64()))
            ent = _classify(np, keys, *span_meta[pkey])
            # KeyError = probe/route drift
            router.route(tbl, ent, lambda e_i: entity2group[(pkey, e_i)])
        router.close()
        return [{"rows": sum(router.rows.values())}]

    with job.phase("route"):
        route_acks = _delta_rdd(_route).collect()
        routed_total = sum(r["rows"] for r in route_acks)
        if routed_total != delta_live_total:
            raise RuntimeError(
                f"cluster-incr route row mismatch: {routed_total} != {delta_live_total}"
            )

    # ---- 4. MERGE: per group read base + fragments, sort, split, stamp ---
    group_rows = [
        {
            "gidx": gi,
            "pkey": g["pkey"],
            "base": [file_spec(root, e) for e in g["base"]],
            "est_bytes": int(g["est_bytes"]),
        }
        for gi, g in enumerate(groups)
    ]

    def _merge(recs):
        import numpy as np
        import pyarrow as pa

        for rec in recs:
            gidx = rec["gidx"]
            parts = []
            for f in rec["base"]:
                tbl = rw.read_live(f["path"], f["dv"])
                keys = np.asarray(_curve_np(cspec, tbl), dtype=np.int64)
                parts.append(tbl.append_column(ZKEY_COL, pa.array(keys, type=pa.int64())))
            frags = read_fragments(shuffle_dir, gidx)
            if frags is not None:
                parts.append(frags)
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            tbl = tbl.sort_by([(ZKEY_COL, "ascending")])
            n_out = max(1, -(-int(rec["est_bytes"]) // target))
            cuts = np.linspace(0, tbl.num_rows, n_out + 1).astype(np.int64)
            # snap interior cuts to the start of the equal-key run they
            # land in: a _zkey value straddling two output files would
            # give them touching bounds, and the NEXT pass's strict
            # non-overlap check would misread that as a foreign writer
            # and full-rewrite forever (duplicate keys are normal —
            # low-cardinality key columns hash to equal curve keys)
            if n_out > 1:
                zk = tbl.column(ZKEY_COL).to_numpy()
                for j in range(1, n_out):
                    c = int(cuts[j])
                    if 0 < c < len(zk):
                        cuts[j] = np.searchsorted(zk, zk[c], side="left")
                cuts = np.maximum.accumulate(cuts)
            for j in range(n_out):
                sl = tbl.slice(int(cuts[j]), int(cuts[j + 1] - cuts[j]))
                if sl.num_rows:
                    yield {**rw.write(sl, f"i{gidx}_{j}.parquet"), "pkey": rec["pkey"]}

    with job.phase("merge"):
        stat_rows = tasks_rdd(
            spark, group_rows, _merge, [r["est_bytes"] for r in group_rows]
        ).collect()

    # ---- 5. publish + commit ---------------------------------------------
    with job.phase("publish"):
        new_entries = rw.publish(stat_rows, lambda r: json.loads(r["pkey"]))

    rewritten = sum(e.record_count for e in new_entries)
    expected = delta_live_total + touched_base_live
    if rewritten != expected:
        raise RuntimeError(
            f"cluster-incr rewrite row-count mismatch: {rewritten} != {expected}"
        )

    removed_entries = touched_base + delta
    out_paths = [e.path for e in new_entries]
    out_bytes = sum(e.size_bytes for e in new_entries)
    job.mark("written", input_files=input_ref, output_files=out_paths,
             rows=rewritten, bytes=out_bytes)
    with job.phase("commit"):
        table.commit_replace(
            {e.path for e in removed_entries},
            new_entries,
            operation="replace",
            summary={"job": job.job_id, "op": "cluster", "mode": "incremental", "curve": curve},
            expected_dv_counts={e.path: len(e.deletes) for e in removed_entries},
        )
    bytes_rewritten = sum(e.size_bytes for e in removed_entries)
    done = job.finish(
        files_before=len(entries),
        files_after=len(entries) - len(removed_entries) + len(new_entries),
        bytes_before=bytes_rewritten, bytes_after=out_bytes, rows=rewritten,
        input_files=input_ref, output_files=out_paths,
    )
    return {
        "status": "committed",
        "mode": "incremental",
        "job_id": done["job_id"],
        "curve": curve,
        "groups": len(groups),
        "files_delta": len(delta),
        "files_base_touched": len(touched_base),
        "files_base_untouched": len(base) - len(touched_base),
        "files_out": len(new_entries),
        "rows": rewritten,
        "bytes_rewritten": bytes_rewritten,
        "duration_ms": done["duration_ms"],
        "phases": done["phases"],
    }
